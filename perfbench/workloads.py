"""The workloads: untimed fixtures, the op list of one pass, and
the output check.

An op is one replication job (``engine.run``), one change-batch apply
(``engine.run`` incremental or one ``stream_cdc_apply`` micro-batch), or
one catalog query (``QUERIES[name]`` materialized with ``count()``). Its
``run(tag)`` returns the rows it landed or counted; ``expect`` is the
row count it must report.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, replace
from typing import Callable

import numpy as np
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

import datagen
import verify

# The scale of each workload's generated tables (lineitem = 6M * sf rows).
REPLICATION_SF = 0.025
CATALOG_SF = 0.01
SMOKE_SF = 0.001

# catalog_mix: a named subset of the bench query list, at least one query
# per catalog family, sized so a steady pass takes a few seconds on four
# cores. The seed fixes their order.
CATALOG_QUERIES = {
    "q1_pricing_summary": "tpch",
    "q3_shipping_priority": "tpch",
    "repl_scan_project_filter": "repl",
    "repl_incremental_upsert": "repl",
    "events_sessionize": "events",
    "text_quality": "text",
    "dedup_minhash_lsh": "dedup",
    "dedup_exact_key": "dedup",
    "knn_bruteforce": "ann_knn",
    "copurchase_degree_profile": "graph",
    "equidepth_histogram_value": "stats",
}
FAMILIES = ("tpch", "repl", "events", "text", "dedup", "ann_knn", "graph", "stats")


def steady_passes(nominal: tuple[float, float], seconds: float) -> int:
    """Steady passes of a run of ``seconds``: as many as fit after the
    first pass at the workload's ``nominal`` (first pass, steady pass)
    seconds on the 4-core reference host, at least two. A fixed count
    keeps every run, and both sides of a comparison, on the same stretch
    of the JIT warm-up curve, whatever the machine's speed that day."""
    first, per_pass = nominal
    return max(2, round((seconds - first) / per_pass))


@dataclass
class Op:
    id: str
    kind: str
    run: Callable[[str], int]
    expect: int | None


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    smoke: bool
    tracer: object

    @property
    def jvm(self):
        return self.spark.sparkContext._jvm  # noqa: SLF001

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def derby_setup(self, url: str, ddl: list[str], table: str, rows) -> None:
        """Create Derby tables, then bulk-load ``rows`` (an Arrow table)
        into ``table`` with Derby's own CSV import."""
        from replicadb_spark.modes import execute_sql

        csv = self.path(f"{table}.csv")
        pacsv.write_csv(rows, csv, pacsv.WriteOptions(include_header=False))
        execute_sql(self.spark, url, ddl + [
            f"CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, '{table.upper()}', '{csv}', "
            "null, null, 'UTF-8', 0)"])


def _replicate(ctx: Ctx, job) -> Callable[[str], int]:
    from replicadb_spark import engine

    def run(tag: str) -> int:
        ctx.tracer.job_group(ctx.spark, tag)
        return engine.run(ctx.spark, job).rows

    return run


def _table_cols(con, relation: str) -> list[tuple[str, str]]:
    return [(r[0], r[1]) for r in con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()]


def _compare(con, got: str, want: str, cols) -> str | None:
    """None when the two relations hold the same rows, else the digests."""
    g, w = verify.digest(con, got, cols), verify.digest(con, want, cols)
    return None if g == w else f"sink (rows, hash) {g} != expected {w}"


class BulkLoad:
    """Complete-mode copies: parquet, CSV and Derby sinks, Derby sources."""

    name = "bulk_load"
    nominal = (8.5, 5.0)

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.sf = SMOKE_SF if ctx.smoke else REPLICATION_SF

    def fixtures(self) -> None:
        from replicadb_spark.options import ReplicaJob

        c = self.ctx
        src = c.path("in")
        self.rows = datagen.write_tables(src, c.seed, self.sf,
                                         ("orders", "lineitem", "events", "documents"))
        self.derby = f"jdbc:derby:{c.path('derby', 'bulk')};create=true"
        ddl = verify.ORDERS_DDL.format(pk="")
        c.derby_setup(self.derby, [f"CREATE TABLE {t} {ddl}"
                                   for t in ("orders_c", "orders_a", "orders_src")],
                      "orders_src", pq.read_table(os.path.join(src, "orders.parquet")))

        def from_file(name, **kw):
            return ReplicaJob(source_connect=f"file://{src}/{name}.parquet",
                              source_file_format="parquet", **kw)

        out = c.path("out")
        self.jobs = {
            "lineitem_parquet": (from_file(
                "lineitem", sink_connect=f"file://{out}/lineitem",
                sink_file_format="parquet"), self.rows["lineitem"]),
            "documents_parquet": (from_file(
                "documents", sink_connect=f"file://{out}/documents",
                sink_file_format="parquet"), self.rows["documents"]),
            "events_csv": (from_file(
                "events", sink_connect=f"file://{out}/events",
                sink_file_format="csv"), self.rows["events"]),
            "orders_derby": (from_file(
                "orders", sink_connect=self.derby, sink_table="orders_c"),
                self.rows["orders"]),
            "orders_derby_atomic": (from_file(
                "orders", sink_connect=self.derby, sink_table="orders_a",
                mode="complete-atomic"), self.rows["orders"]),
            "derby_parquet_j1": (ReplicaJob(
                source_connect=self.derby, source_table="orders_src", jobs=1,
                sink_connect=f"file://{out}/derby_j1", sink_file_format="parquet"),
                self.rows["orders"]),
            "derby_parquet_j4": (ReplicaJob(
                source_connect=self.derby, source_table="orders_src", jobs=4,
                source_split_by="o_orderkey",
                sink_connect=f"file://{out}/derby_j4", sink_file_format="parquet"),
                self.rows["orders"]),
        }

    def ops(self, pass_no: int) -> list[Op]:
        return [Op(name, "jdbc" if "derby" in name else "file",
                   _replicate(self.ctx, job), rows)
                for name, (job, rows) in self.jobs.items()]

    def file_sinks(self) -> list[str]:
        return [self.ctx.path("out", d) for d in
                ("lineitem", "documents", "events", "derby_j1", "derby_j4")]

    def check(self) -> list[tuple[str, str | None]]:
        c = self.ctx
        con = verify.connect()
        src = c.path("in")
        orders = verify.parquet(os.path.join(src, "orders.parquet"))
        pairs = []
        for name in ("lineitem", "documents"):
            rel = verify.parquet(os.path.join(src, f"{name}.parquet"))
            pairs.append((name, verify.parquet(c.path("out", name)), rel, _table_cols(con, rel)))
        # The CSV sink writes Spark's default timestamp text, which keeps
        # milliseconds; the expected value carries the same precision.
        events = verify.parquet(os.path.join(src, "events.parquet"))
        pairs.append(("events_csv", verify.csv_dir(c.path("out", "events")),
                      f"(SELECT * REPLACE (date_trunc('millisecond', ts) AS ts) FROM {events})",
                      _table_cols(con, events)))
        for table in ("orders_c", "orders_a"):
            sink = verify.derby_export(c.jvm, self.derby.replace(";create=true", ""), table,
                                       c.path(f"{table}.export.csv"), verify.ORDERS_COLS)
            pairs.append((table, sink, orders, verify.ORDERS_COLS))
        for d in ("derby_j1", "derby_j4"):
            pairs.append((d, verify.parquet(c.path("out", d)), orders, verify.ORDERS_COLS))
        return [(name, _compare(con, got, want, cols)) for name, got, want, cols in pairs]


class IncrementalSync:
    """Change batches applied three ways: engine incremental into parquet,
    engine incremental into Derby, and one CDC micro-batch."""

    name = "incremental_sync"
    nominal = (8.5, 4.9)

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.sf = SMOKE_SF if ctx.smoke else REPLICATION_SF

    def fixtures(self) -> None:
        c = self.ctx
        base = datagen.make_table("orders", c.seed, self.sf)
        self.base_rows = base.num_rows
        self.base = c.path("in", "orders.parquet")
        os.makedirs(c.path("in"), exist_ok=True)
        pq.write_table(base, self.base)
        for d in ("sink_parquet", "cdc_snapshot"):
            os.makedirs(c.path(d))
            shutil.copy(self.base, c.path(d, "part-00000.parquet"))
        for d in ("cdc_in", "cdc_stage", "batches"):
            os.makedirs(c.path(d))
        self.derby = f"jdbc:derby:{c.path('derby', 'inc')};create=true"
        c.derby_setup(self.derby, [
            "CREATE TABLE orders_inc " + verify.ORDERS_DDL.format(pk=" PRIMARY KEY")],
            "orders_inc", base)
        self.live_keys = self.base_rows
        self.applied = {"parquet": [], "derby": [], "cdc": []}
        self.stream_schema = None

    def _batch(self, b: int) -> tuple[str, str, int, int]:
        """Write change batch ``b`` (≈1% of the sink on even batches, ≈10%
        on odd ones): the full log, and its non-delete rows for the
        engine paths."""
        c = self.ctx
        size = max(20, self.base_rows // (100 if b % 2 == 0 else 10))
        log = datagen.change_batch(c.seed, b, self.live_keys, size)
        self.live_keys += size // 4
        log_path = c.path("batches", f"log-{b:05d}.parquet")
        pq.write_table(log, log_path)
        # the CDC op moves this link into the stream's input directory
        os.link(log_path, c.path("cdc_stage", os.path.basename(log_path)))
        ups = log.filter(np.array(log.column("op").to_pylist()) != "delete")
        ups_path = c.path("batches", f"upserts-{b:05d}.parquet")
        pq.write_table(ups.drop_columns(["op", "seq"]), ups_path)
        return log_path, ups_path, log.num_rows, ups.num_rows

    def ops(self, pass_no: int) -> list[Op]:
        from replicadb_spark.options import ReplicaJob

        c = self.ctx
        ops = []
        for b in (2 * pass_no, 2 * pass_no + 1):
            log_path, ups_path, n_log, n_ups = self._batch(b)
            if self.stream_schema is None:
                self.stream_schema = c.spark.read.parquet(log_path).schema
            src = dict(source_connect=f"file://{ups_path}", source_file_format="parquet",
                       mode="incremental")
            pq_job = ReplicaJob(sink_connect=f"file://{c.path('sink_parquet')}",
                                sink_file_format="parquet",
                                sink_params={"pk.columns": "o_orderkey"}, **src)
            derby_job = ReplicaJob(sink_connect=self.derby, sink_table="orders_inc", **src)
            label = "batch1pct" if b % 2 == 0 else "batch10pct"
            ops += [
                Op(f"{label}_parquet", "file", self._applied("parquet", log_path,
                                                            _replicate(c, pq_job)), n_ups),
                Op(f"{label}_derby", "jdbc", self._applied("derby", log_path,
                                                          _replicate(c, derby_job)), n_ups),
                Op(f"{label}_cdc", "cdc", self._applied("cdc", log_path,
                                                       self._cdc(log_path, n_log)), n_log),
            ]
        return ops

    def _applied(self, path_name: str, log_path: str, run):
        def wrapped(tag: str) -> int:
            self.applied[path_name].append(log_path)
            return run(tag)

        return wrapped

    def _cdc(self, log_path: str, n_log: int) -> Callable[[str], int]:
        from replicadb_spark.streaming import pipeline

        c = self.ctx

        def run(tag: str) -> int:
            spark = c.spark
            name = os.path.basename(log_path)
            os.replace(c.path("cdc_stage", name), c.path("cdc_in", name))
            tr = c.tracer
            with tr.span("streaming.start"):
                tr.job_group(spark, tag)
                stream = pipeline.read_event_stream(
                    spark, c.path("cdc_in"), self.stream_schema, max_files_per_trigger=1)
                q = pipeline.stream_cdc_apply(
                    stream, c.path("cdc_snapshot"), c.path("cdc_checkpoint"),
                    keys=["o_orderkey"], seed_snapshot=True)
            with tr.span("streaming.await"):
                done = q.awaitTermination(120)
            if not done:
                q.stop()
                raise TimeoutError("CDC micro-batch did not finish in 120 s")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            progress = q.recentProgress
            tr.add_group(str(q.runId))
            tr.counts["streaming.batches"] += len(progress)
            for p in progress:
                tr.counts["streaming.input_rows"] += p.numInputRows
                tr.counts["streaming.add_batch_ms"] += p.durationMs.get("addBatch", 0)
                tr.counts["streaming.trigger_ms"] += p.durationMs.get("triggerExecution", 0)
            # numInputRows counts every scan of the batch, and the merge
            # scans it more than once, so the op reports the log rows of
            # the one micro-batch that carried data
            with_data = sum(p.numInputRows > 0 for p in progress)
            if with_data != 1:
                raise RuntimeError(f"expected one micro-batch with data, got {with_data}")
            return n_log

        return run

    def file_sinks(self) -> list[str]:
        return [self.ctx.path("sink_parquet"), self.ctx.path("cdc_snapshot")]

    def check(self) -> list[tuple[str, str | None]]:
        c = self.ctx
        con = verify.connect()
        cols = verify.ORDERS_COLS
        sinks = {
            "parquet": verify.parquet(c.path("sink_parquet")),
            "derby": verify.derby_export(c.jvm, self.derby.replace(";create=true", ""),
                                         "orders_inc", c.path("orders_inc.export.csv"), cols),
            "cdc": verify.parquet(c.path("cdc_snapshot")),
        }
        return [(name, _compare(con, got, verify.last_write_wins(
                    self.base, self.applied[name], name == "cdc"), cols))
                for name, got in sinks.items()]


class CatalogMix:
    """Catalog queries materialized with count(); caches released after each."""

    name = "catalog_mix"
    nominal = (20.2, 4.1)

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.sf = SMOKE_SF if ctx.smoke else CATALOG_SF

    def fixtures(self) -> None:
        from replicadb_spark.plans.catalog import ORACLES

        c = self.ctx
        self.data = c.path("tables")
        datagen.write_tables(self.data, c.seed, self.sf)
        con = verify.connect()
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"{verify.parquet(os.path.join(self.data, t + '.parquet'))}")
        self.expected = {
            q: con.execute(f"SELECT count(*) FROM ({ORACLES[q]})").fetchone()[0]
            for q in CATALOG_QUERIES
        }
        order = np.random.default_rng(c.seed).permutation(len(CATALOG_QUERIES))
        self.order = [list(CATALOG_QUERIES)[i] for i in order]

    def ops(self, pass_no: int) -> list[Op]:
        return [Op(q, CATALOG_QUERIES[q], self._query(q), self.expected[q]) for q in self.order]

    def _query(self, name: str) -> Callable[[str], int]:
        from replicadb_spark.plans import catalog

        c = self.ctx

        def run(tag: str) -> int:
            tr = c.tracer
            with tr.span("catalog.build", family=CATALOG_QUERIES[name]):
                tr.job_group(c.spark, tag + ":build")
                df = catalog.QUERIES[name](c.spark, self.data)
            with tr.span("catalog.exec", family=CATALOG_QUERIES[name]):
                tr.job_group(c.spark, tag + ":exec")
                return df.count()

        return run

    def file_sinks(self) -> list[str]:
        return []

    def check(self) -> list[tuple[str, str | None]]:
        return []  # every query's count is checked as its op runs


class Replication:
    """``bulk_load`` and ``incremental_sync`` in one pass: the seven
    complete-mode copies, then two change batches applied three ways.
    Each part keeps its own fixtures and sinks under its own directory."""

    name = "replication"
    nominal = (14.0, 10.0)

    def __init__(self, ctx: Ctx):
        self.bulk = BulkLoad(replace(ctx, work=ctx.path("bulk")))
        self.inc = IncrementalSync(replace(ctx, work=ctx.path("incremental")))
        self.parts = (self.bulk, self.inc)

    @property
    def jobs(self):
        return self.bulk.jobs

    def fixtures(self) -> None:
        for part in self.parts:
            os.makedirs(part.ctx.work)
            part.fixtures()

    def ops(self, pass_no: int) -> list[Op]:
        return [op for part in self.parts for op in part.ops(pass_no)]

    def file_sinks(self) -> list[str]:
        return [d for part in self.parts for d in part.file_sinks()]

    def check(self) -> list[tuple[str, str | None]]:
        return [(f"{part.name}.{name}", msg) for part in self.parts
                for name, msg in part.check()]


WORKLOADS = {w.name: w for w in (Replication, CatalogMix, BulkLoad, IncrementalSync)}
