"""Replication-first benchmark for replicadb_spark.

    python3 perfbench/run.py --workload replication --seed 1 --seconds 40 --trace 0

One workload, one seed, one fresh process: Spark runs on ``local[N]``
with N the number of CPUs this process may use. The run

1. builds and warms the session (JVM, parquet reader, N Python workers)
   and reports the time from process start as ``setup_s``;
2. seeds the workload's fixtures from the seed (untimed, reported
   separately);
3. runs passes over the workload's op list: the first pass, then a
   fixed number of steady passes, as many as fit in ``--seconds`` at the
   workload's nominal pass length on the reference host (at least two);
4. checks every op's row count and, with DuckDB, the final contents of
   every sink;
5. prints a report and, as the last line, one JSON object with the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``).

The traced run wraps the engine's public functions in span shims (see
``tracing.py``), sets one job group per op, and traces the first pass and
every other steady pass; the untraced steady passes between them give
the tracing overhead. Its spans go to ``.perfbench/trace/``.

Everything the run writes (Spark local dirs, warehouse, Derby home and
log, temp files) lives under ``.perfbench/run-<pid>/`` at the repository
root, which is removed on exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback
from collections import Counter, defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OVERRUN = 1.25
OP_TIMEOUT_S = 90
DRIVER_MEMORY = "1g"



def _metric_units(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def process_start() -> float:
    """Wall-clock time this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_jiffies() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of this machine's CPU time the hypervisor gave to other
    guests between two ``cpu_jiffies`` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def tail_percentile(samples: list[float]) -> tuple[int, float, int]:
    """(q, value, n): the highest whole percentile q (nearest rank) with
    at least ten samples beyond it; the median when there are too few."""
    s = sorted(samples)
    n = len(s)
    for q in range(99, 49, -1):
        rank = math.ceil(q / 100 * n)
        if n - rank >= 10:
            return q, s[rank - 1], n
    return 50, statistics.median(s), n


def isolate(work: str, cpus: int) -> dict[str, str]:
    """Point every writer at ``work`` and the Python workers at the repo."""
    dirs = {d: os.path.join(work, d) for d in ("tmp", "local", "warehouse", "derby")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    sys.path[:0] = [ROOT]
    # every JVM, the spark-submit launcher included: temp files under
    # ``work``, no hsperfdata file under /tmp, and C1 compilation only.
    # With the default tiered C2 the driver JVM spends 70+ CPU-seconds of a
    # one-minute run compiling, so steady passes measured how far the C2
    # queue had drained: run-to-run spreads doubled, and 5% CPU steal on a
    # shared 4-vCPU VM slowed passes by 30% (README, Stability).
    os.environ["_JAVA_OPTIONS"] = (f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 "
                                   f"-Djava.io.tmpdir={dirs['tmp']}")
    java = " ".join([
        f"-Dderby.system.home={dirs['derby']}",
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        "-Duser.timezone=UTC",
    ])
    return {
        "spark.driver.extraJavaOptions": java,
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.local.dir": dirs["local"],
    }


def _identity(batches):
    yield from batches


class Bench:
    def __init__(self, args, work: str, t_proc: float):
        self.args = args
        self.work = work
        self.t_proc = t_proc
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.passes: list[dict] = []
        self.info: dict = {}

    # -- set-up ----------------------------------------------------------------

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        conf = isolate(self.work, self.cpus)
        t = time.perf_counter()
        from replicadb_spark.session import get_spark

        self.spark = get_spark("perfbench", **conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        t_warm = time.perf_counter()
        warm = os.path.join(self.work, "warm.parquet")
        pq.write_table(pa.table({"x": list(range(self.cpus))}), warm)
        self.spark.read.parquet(warm).count()
        n = self.cpus
        self.spark.range(0, n, 1, n).mapInPandas(_identity, "id long").count()
        t_end = time.perf_counter()
        self.info["setup_s"] = time.time() - self.t_proc
        self.info["session.get_spark_s"] = t_warm - t
        self.info["session.worker_warm_s"] = t_end - t_warm

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid  # noqa: SLF001

    def shutdown(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway  # noqa: SLF001
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
            SparkContext._gateway = None  # noqa: SLF001
            SparkContext._jvm = None  # noqa: SLF001

    # -- passes ------------------------------------------------------------------

    def run_op(self, op, tag: str, tracer) -> dict:
        from replicadb_spark.cache import persisted_df_count, release_caches

        spark = self.spark
        tracer.op, tracer.groups = tag, []
        timer = threading.Timer(OP_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
        rec = {"id": op.id, "kind": op.kind, "ok": True, "rows": 0, "err": None}
        timer.start()
        t = time.perf_counter()
        try:
            with tracer.span("op", kind=op.kind):
                rec["rows"] = op.run(tag)
            if op.expect is not None and rec["rows"] != op.expect:
                rec["ok"] = False
                rec["err"] = f"rows {rec['rows']} != expected {op.expect}"
        except Exception as exc:  # an op failure is counted, and the run goes on
            rec["ok"] = False
            rec["err"] = f"{type(exc).__name__}: {str(exc).strip().splitlines()[0][:300]}"
            traceback.print_exc(file=sys.stderr)
        finally:
            rec["secs"] = time.perf_counter() - t
            timer.cancel()
        tracer.clear_group(spark)
        t = time.perf_counter()
        with tracer.span("cache.release"):
            release_caches(spark)
            spark.catalog.clearCache()
        rec["release_s"] = time.perf_counter() - t
        rec["residual"] = persisted_df_count(spark)
        rec["groups"] = {g: tracer.spark_counts(spark, g) for g in tracer.groups}
        if not rec["ok"]:
            print(f"# op {tag} failed: {rec['err']}", file=sys.stderr)
        return rec

    def run_passes(self, workload, tracer) -> None:
        from workloads import steady_passes

        n_steady = steady_passes(workload.nominal, self.args.seconds)
        t_start = time.perf_counter()
        for p in range(1 + n_steady):
            if p > 2 and time.perf_counter() - t_start > OVERRUN * self.args.seconds:
                break  # on a much slower build or host, the run still ends in time
            ops = workload.ops(p)
            traced = tracer.enabled and (p == 0 or p % 2 == 1)
            tracer.active = traced
            if traced:
                tracer.install()
            else:
                tracer.uninstall()
            tracer.pass_no = p
            counts_before = Counter(tracer.counts)
            if p == 1:
                jiffies = cpu_jiffies()
            t = time.perf_counter()
            recs = [self.run_op(op, f"p{p}:{op.id}", tracer) for op in ops]
            wall = time.perf_counter() - t
            tracer.active = False
            self.passes.append({
                "pass": p, "traced": traced, "wall": wall, "ops": recs,
                "counts": dict(Counter(tracer.counts) - counts_before),
            })
        self.info["steal_share"] = steal_share(jiffies, cpu_jiffies())
        tracer.uninstall()

    # -- metrics -------------------------------------------------------------------

    def end_to_end(self, checks_failed: int, checks: int) -> dict:
        first, steady = self.passes[0], self.passes[1:]
        if self.args.trace:
            # the traced run reports its timings from the untraced passes
            steady = [p for p in steady if not p["traced"]] or steady
        lat = [o["secs"] for p in steady for o in p["ops"]]
        q, tail, n = tail_percentile(lat)
        self.info["tail"] = {"percentile": q, "samples": n,
                             "beyond": n - math.ceil(q / 100 * n)}
        rows_rate = [sum(o["rows"] for o in p["ops"] if o["ok"]) / p["wall"] for p in steady]
        ops = [o for p in self.passes for o in p["ops"]]
        attempted = len(ops) + checks
        failed = sum(not o["ok"] for o in ops) + checks_failed
        self.info["attempted"], self.info["failed"] = attempted, failed
        return {
            "setup_s": self.info["setup_s"],
            "first_pass_s": first["wall"],
            "pass_s": statistics.median(p["wall"] for p in steady),
            "op_s_p50": statistics.median(lat),
            "op_s_tail": tail,
            "rows_per_s": statistics.median(rows_rate),
            "peak_rss_mb": self.info["peak_rss_mb"],
            "ok_ratio": 1.0 - failed / attempted,
        }

    def layers(self, tracer) -> dict:
        """Per-layer metrics from the traced passes: per-pass sums, median
        over the traced steady passes; first-touch figures as measured."""
        traced = [p for p in self.passes[1:] if p["traced"]]
        by_pass: dict[int, Counter] = defaultdict(Counter)
        self_t = tracer.self_times()
        for s in tracer.spans:
            if s["end"] is None:
                continue
            c = by_pass[s["pass"]]
            c[f"{s['name']}.self_s"] += self_t[s["id"]]
            c[f"{s['name']}.total_s"] += s["end"] - s["start"]
            if s["name"] == "catalog.exec":
                c[f"catalog.exec_s.{s['family']}"] += s["end"] - s["start"]
        for p in self.passes:
            c = by_pass[p["pass"]]
            for o in p["ops"]:
                c["cache.release_s"] += o["release_s"]
                c["cache.residual_frames"] += o["residual"]
                for g, counts in o["groups"].items():
                    phase = g.rsplit(":", 1)[-1]
                    for k, v in counts.items():
                        c[f"spark.{k}"] += v
                        if phase in ("build", "exec"):
                            c[f"catalog.{phase}_{k}"] += v
            c.update(p["counts"])

        def med(key: str) -> float:
            return statistics.median(by_pass[p["pass"]][key] for p in traced) if traced else 0.0

        untraced = [p["wall"] for p in self.passes[1:] if not p["traced"]]
        out = {
            "session.get_spark_s": self.info["session.get_spark_s"],
            "session.worker_warm_s": self.info["session.worker_warm_s"],
            "op.build_s": med("catalog.build.total_s") + med("engine.read_source.total_s")
            + med("streaming.start.total_s"),
            "op.exec_s": med("catalog.exec.total_s") + med("engine.write_sink.total_s")
            + med("streaming.await.total_s"),
            "cache.release_s": med("cache.release_s"),
            "trace.overhead_s": (statistics.median(p["wall"] for p in traced)
                                 - statistics.median(untraced)) if traced and untraced else 0.0,
            "cache.residual_frames": sum(by_pass[p["pass"]]["cache.residual_frames"]
                                         for p in self.passes),
            "spark.jobs": med("spark.jobs"),
            "spark.stages": med("spark.stages"),
            "spark.tasks": med("spark.tasks"),
            "spark.failed_tasks": med("spark.failed_tasks"),
            "catalog.build_jobs": med("catalog.build_jobs"),
            "catalog.exec_jobs": med("catalog.exec_jobs"),
            "catalog.exec_stages": med("catalog.exec_stages"),
            "catalog.exec_tasks": med("catalog.exec_tasks"),
            "catalog.build_s": med("catalog.build.total_s"),
            "catalog.exec_s": med("catalog.exec.total_s"),
            "layouts.build_s": self.info.get("layouts.build_s", 0.0),
            "layouts.bytes": self.info.get("layouts.bytes", 0),
            "engine.read_source_s": med("engine.read_source.self_s"),
            "engine.write_sink_s": med("engine.write_sink.self_s"),
            "engine.rows_unobserved": sum(o["rows"] == -1 for p in self.passes for o in p["ops"]),
            "sources.jdbc.tasks": self.info.get("sources.jdbc.tasks", 0),
            "sources.jdbc.partition_rows_max_over_mean":
                self.info.get("sources.jdbc.partition_rows_max_over_mean", 0.0),
            "sinks.files.write_s": med("sinks.files.write_file.self_s"),
            "sinks.files.files": med("sinks.files.files"),
            "sinks.files.bytes": med("sinks.files.bytes"),
            "sinks.jdbc.write_s": med("sinks.jdbc.write_jdbc.self_s"),
            "sinks.bytes_per_row": self.info.get("sinks.bytes_per_row", 0.0),
            "modes.upsert_s": med("modes.upsert.self_s"),
            "modes.run_file_mode_s": med("modes.run_file_mode.self_s"),
            "modes.execute_sql_s": med("modes.execute_sql.self_s"),
            "modes.execute_sql_statements": med("modes.execute_sql_statements"),
            "modes.sink_primary_keys_s": med("modes.sink_primary_keys.self_s"),
            "streaming.batches": med("streaming.batches"),
            "streaming.input_rows": med("streaming.input_rows"),
            "streaming.add_batch_s": med("streaming.add_batch_ms") / 1000.0,
            "streaming.trigger_s": med("streaming.trigger_ms") / 1000.0,
        }
        from workloads import FAMILIES

        for fam in FAMILIES:
            out[f"catalog.exec_s.{fam}"] = med(f"catalog.exec_s.{fam}")
        return out

    # -- side measurements -------------------------------------------------------

    def measure_layouts(self) -> None:
        from replicadb_spark.plans.catalog import LAYOUT_LEDGER

        self.info["layouts.build_s"] = sum(v["build_seconds"] for v in LAYOUT_LEDGER.values())
        self.info["layouts.bytes"] = sum(v["bytes"] for v in LAYOUT_LEDGER.values())

    def measure_jdbc_partitions(self, workload) -> None:
        """Partitions and rows per partition of the jobs=1/jobs=4 Derby reads."""
        from pyspark.sql import functions as F

        from replicadb_spark import engine

        tasks, ratio = 0, 0.0
        for name in ("derby_parquet_j1", "derby_parquet_j4"):
            job = getattr(workload, "jobs", {}).get(name, (None,))[0]
            if job is None:
                continue
            df = engine.read_source(self.spark, job)
            n = df.rdd.getNumPartitions()
            rows = [r["count"] for r in df.groupBy(F.spark_partition_id()).count().collect()]
            rows += [0] * (n - len(rows))
            tasks += n
            if name.endswith("j4") and sum(rows):
                ratio = max(rows) / (sum(rows) / n)
        self.info["sources.jdbc.tasks"] = tasks
        self.info["sources.jdbc.partition_rows_max_over_mean"] = ratio

    def measure_sink_bytes(self, workload) -> None:
        import verify
        from tracing import data_files

        con = verify.connect()
        nbytes = rows = 0
        for d in workload.file_sinks():
            files = data_files(d)
            nbytes += sum(map(os.path.getsize, files))
            rel = verify.csv_dir(d) if any(f.endswith(".csv") for f in files) else verify.parquet(d)
            rows += con.execute(f"SELECT count(*) FROM {rel}").fetchone()[0]
        self.info["sinks.bytes_per_row"] = nbytes / rows if rows else 0.0


def run(args) -> dict:
    t_proc = process_start()
    if not os.path.isfile(os.path.join(ROOT, "replicadb_spark", "engine.py")):
        raise SystemExit(f"perfbench: no replicadb_spark package under {ROOT}")
    with open("/proc/loadavg") as fh:
        load = fh.read().split()[:3]
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    bench = Bench(args, work, t_proc)
    import tracing
    import workloads

    tracer = tracing.Tracer(enabled=bool(args.trace), t0=time.perf_counter())
    try:
        bench.setup()
        ctx = workloads.Ctx(bench.spark, work, args.seed, args.smoke, tracer)
        wl = workloads.WORKLOADS[args.workload](ctx)
        t = time.perf_counter()
        wl.fixtures()
        bench.info["fixture_s"] = time.perf_counter() - t
        bench.run_passes(wl, tracer)
        bench.measure_layouts()
        bench.info["peak_rss_mb"] = vm_hwm_mb(os.getpid()) + vm_hwm_mb(bench.jvm_pid())
        t = time.perf_counter()
        checks = wl.check()
        bench.info["check_s"] = time.perf_counter() - t
        problems = [f"{name}: {msg}" for name, msg in checks if msg]
        for msg in problems:
            print(f"# check failed: {msg}", file=sys.stderr)
        e2e = bench.end_to_end(len(problems), len(checks))
        layers = None
        if args.trace:
            bench.measure_jdbc_partitions(wl)
            bench.measure_sink_bytes(wl)
            layers = bench.layers(tracer)
            path = os.path.join(ROOT, ".perfbench", "trace",
                                f"{args.workload}-seed{args.seed}.json")
            tracer.write(path, {"workload": args.workload, "seed": args.seed,
                                "layers": layers, "passes": bench.passes})
            bench.info["trace_file"] = os.path.relpath(path, ROOT)
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no trace files are kept
    return {"load": load, "info": bench.info, "e2e": e2e, "layers": layers,
            "passes": bench.passes, "cpus": bench.cpus}


def layer_unit(name: str, known: dict[str, str]) -> str:
    if name in known:
        return known[name]
    if name.endswith("_s") or "_s." in name:
        return "s"
    return "B" if name.endswith("bytes") else "count"


def report(args, res: dict) -> dict:
    end_to_end, per_layer = _metric_units("end_to_end"), _metric_units("per_layer")
    info = res["info"]
    print(f"# workload {args.workload} seed {args.seed} local[{res['cpus']}] "
          f"loadavg at start {' '.join(res['load'])}")
    print(f"# fixtures {info['fixture_s']:.3f} s (untimed), check {info['check_s']:.3f} s, "
          f"passes {len(res['passes'])} ({len(res['passes'][0]['ops'])} ops each)")
    print("# pass walls " + " ".join(f"{p['wall']:.3f}" for p in res["passes"]))
    print(f"# cpu steal during the steady passes {100 * info['steal_share']:.1f}% "
          "(context only: time the hypervisor ran other guests)")
    t = info["tail"]
    print(f"# op_s_tail is p{t['percentile']} of {t['samples']} steady ops "
          f"({t['beyond']} beyond it)")
    first, steady = res["passes"][0], res["passes"][1:]
    for i, o in enumerate(first["ops"]):
        later = statistics.median(p["ops"][i]["secs"] for p in steady)
        print(f"# op {o['id']} ({o['kind']}): first {o['secs']:.3f} s, steady median {later:.3f} s")
    for name, unit in end_to_end.items():
        print(f"{name} {res['e2e'][name]:.6g} {unit}")
    print(f"failed_ratio {info['failed'] / info['attempted']:.6g} ratio "
          f"({info['failed']} of {info['attempted']})")
    if res["layers"] is not None:
        for name, value in res["layers"].items():
            print(f"{name} {value:.6g} {layer_unit(name, per_layer)}")
        print(f"# spans written to {info['trace_file']}")
    chosen = (res["layers"], per_layer) if args.trace else (res["e2e"], end_to_end)
    return {
        "correct": info["failed"] == 0,
        "attempted": info["attempted"],
        "failed": info["failed"],
        "metrics": {k: {"value": chosen[0][k], "unit": u} for k, u in chosen[1].items()},
    }


def main(argv=None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (sf0.001), for the smoke check")
    args = ap.parse_args(argv)
    res = run(args)
    print(json.dumps(report(args, res)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
