"""Spans and counters for the traced run.

The timed runs create a ``Tracer`` with ``enabled=False``: no span is
recorded, no shim is installed and no job group is set. The traced run
installs span shims around the engine's public functions, sets one
Spark job group per op, keeps every span in memory and writes them out
once, when the run ends.

A span is ``{id, name, op, pass, parent, start, end}`` with times in
seconds from the start of the run. A layer's self time is its span's
duration minus what its child spans cover.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

# (module, attribute, span name): the engine functions the traced run wraps.
# Callers look these names up in their module at call time, so replacing
# the module attribute reaches every call.
SHIMS = (
    ("replicadb_spark.engine", "read_source", "engine.read_source"),
    ("replicadb_spark.engine", "write_sink", "engine.write_sink"),
    ("replicadb_spark.modes", "execute_sql", "modes.execute_sql"),
    ("replicadb_spark.modes", "run_file_mode", "modes.run_file_mode"),
    ("replicadb_spark.modes", "sink_primary_keys", "modes.sink_primary_keys"),
    ("replicadb_spark.modes", "upsert_dataframe", "modes.upsert"),
    ("replicadb_spark.sinks.jdbc", "write_jdbc", "sinks.jdbc.write_jdbc"),
    ("replicadb_spark.sinks.files", "write_file", "sinks.files.write_file"),
)


def data_files(path: str) -> list[str]:
    """Data files under a sink directory (Spark's ``_SUCCESS`` and
    ``.crc`` side files excluded)."""
    out = []
    for root, _dirs, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if not f.startswith((".", "_"))]
    return out


class Tracer:
    def __init__(self, enabled: bool, t0: float):
        self.enabled = enabled
        self.active = False  # spans recorded only while a traced pass runs
        self.t0 = t0
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self.op: str | None = None
        self.pass_no = 0
        self.groups: list[str] = []
        self._stack: list[int] = []
        self._saved: list[tuple] = []

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "op": self.op, "pass": self.pass_no,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def shim(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if tracer.active:
                tracer._count(name, args, kwargs)
            return out

        return shim

    def _count(self, name: str, args, kwargs) -> None:
        if name == "modes.execute_sql":
            self.counts["modes.execute_sql_statements"] += len(args[2])
        elif name == "sinks.files.write_file":
            files = data_files(args[1])
            self.counts["sinks.files.files"] += len(files)
            self.counts["sinks.files.bytes"] += sum(map(os.path.getsize, files))

    def install(self) -> None:
        if not self.enabled or self._saved:
            return
        for mod_name, attr, span_name in SHIMS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, span_name))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._saved):
            setattr(mod, attr, orig)
        self._saved.clear()

    # -- job groups ----------------------------------------------------------

    def job_group(self, spark, group: str) -> None:
        """One job group per op (or op phase) in traced passes; none otherwise."""
        if self.active:
            spark.sparkContext.setJobGroup(group, group)
            self.groups.append(group)

    def add_group(self, group: str) -> None:
        """A job group Spark set itself, such as a streaming query's run id."""
        if self.active:
            self.groups.append(group)

    def clear_group(self, spark) -> None:
        sc = spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    def spark_counts(self, spark, group: str) -> dict[str, int]:
        """Jobs, stages, tasks and failed tasks started in ``group``."""
        st = spark.sparkContext.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for jid in st.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                stage = st.getStageInfo(sid)
                if stage is None:
                    continue
                out["stages"] += 1
                out["tasks"] += stage.numTasks
                out["failed_tasks"] += stage.numFailedTasks
        return out

    # -- output ----------------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]]
                for s in self.spans if s["end"] is not None}

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans}, fh)
