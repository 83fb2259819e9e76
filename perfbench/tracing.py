"""In-memory spans around the engine's public calls, plus Spark status-store
readouts attributed to the span that launched each job.

Spans are recorded from outside the package: ``Tracer.install`` replaces
module attributes with wrappers for the length of one traced operation and
``Tracer.uninstall`` puts the originals back. The engine resolves its
callees at call time (``cli.convert`` and ``write_cf_dataset`` import them
inside the function body, ``run_incremental_ingest`` looks up
``write_ios_batch`` as a module global), so the wrappers see every call.

Each span sets a Spark job group named after it, so stage metrics read back
from the status store attach to the span that launched the job. A job with
no group (one launched from a thread the wrapper did not run on) is
attributed to the innermost span whose interval holds its submission time.

Two executor-side probes count work done inside Python crossings through
accumulators: the IOS parse function called by ``parse_ios`` (calls, bytes,
seconds) and the ray-casting UDF of ``assign_geo_code`` (rows, matches).
"""

from __future__ import annotations

import functools
import gc
import sys
import time

import pandas as pd
import py4j.clientserver

# (module, attribute, span name) for every wrapped public call
WRAPPED = [
    ("cioos_siooc_data_transform_spark.cli", "convert", "cli.convert"),
    ("cioos_siooc_data_transform_spark.sources.ios_source", "discover_files",
     "ios_source.discover_files"),
    ("cioos_siooc_data_transform_spark.sources.ios_source", "parse_ios",
     "ios_source.parse_ios"),
    ("cioos_siooc_data_transform_spark.sources.geojson_source",
     "read_geojson_polygons", "geojson_source.read_geojson_polygons"),
    ("cioos_siooc_data_transform_spark.sources.geojson_source", "assign_geo_code",
     "geojson_source.assign_geo_code"),
    ("cioos_siooc_data_transform_spark.operators.bodc", "assign_bodc_codes",
     "bodc.assign_bodc_codes"),
    ("cioos_siooc_data_transform_spark.sinks.cf_parquet", "write_cf_dataset",
     "cf_parquet.write_cf_dataset"),
    ("cioos_siooc_data_transform_spark.sinks.cf_netcdf", "write_netcdf_dir",
     "cf_netcdf.write_netcdf_dir"),
    ("cioos_siooc_data_transform_spark.streaming.incremental",
     "run_incremental_ingest", "incremental.run_incremental_ingest"),
    ("cioos_siooc_data_transform_spark.streaming.incremental", "write_ios_batch",
     "incremental.write_ios_batch"),
]

STAGE_FIELDS = (
    ("run_ms", "executorRunTime"),
    ("cpu_ns", "executorCpuTime"),
    ("tasks", "numCompleteTasks"),
    ("shuffle_read", "shuffleReadBytes"),
    ("shuffle_write", "shuffleWriteBytes"),
    ("spill_mem", "memoryBytesSpilled"),
    ("spill_disk", "diskBytesSpilled"),
    ("input_bytes", "inputBytes"),
)


def _opt(scala_option):
    return scala_option.get() if scala_option.isDefined() else None


def make_parse_probe(orig, calls, nbytes, secs):
    def probe(path, text):
        t0 = time.perf_counter()
        try:
            return orig(path, text)
        finally:
            secs.add(time.perf_counter() - t0)
            calls.add(1)
            nbytes.add(len(text))

    return probe


def make_contains_probe(orig_func, rows, matches):
    from pyspark.sql import functions as F
    from pyspark.sql.types import BooleanType

    def probe(lon: pd.Series, lat: pd.Series, ring_json: pd.Series) -> pd.Series:
        out = orig_func(lon, lat, ring_json)
        rows.add(len(out))
        matches.add(int(out.sum()))
        return out

    return F.pandas_udf(probe, BooleanType())


class Tracer:
    """Spans and counters for traced operations of one benchmark run."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.ops: list[dict] = []  # per traced op: spans, jobs, counters
        self._stack: list[dict] = []
        self._next_id = 0
        self._patches: list[tuple] = []
        self._seen_job = -1
        self.py4j_calls = 0
        self.gc_s = 0.0
        self._gc_t0 = 0.0
        self._counting = False  # inside a traced operation
        acc = self.sc.accumulator
        self.acc = {
            "parse_calls": acc(0), "parse_bytes": acc(0), "parse_s": acc(0.0),
            "udf_rows": acc(0), "udf_matches": acc(0),
        }
        self._install_counters()
        self._read_table_homes = None

    # -- process-wide counters -------------------------------------------
    def _install_counters(self) -> None:
        tracer = self
        orig_send = py4j.clientserver.JavaClient.send_command

        def send_command(self, command, *a, **k):
            # memory-delete commands finalize Python references to JVM
            # objects whenever the garbage collector frees them, often
            # during a later call; counting them makes the count drift
            if tracer._counting and not command.startswith("m\nd\n"):
                tracer.py4j_calls += 1
            return orig_send(self, command, *a, **k)

        py4j.clientserver.JavaClient.send_command = send_command
        self._orig_send = orig_send

        def on_gc(phase, info):
            if not self._counting:
                return
            if phase == "start":
                self._gc_t0 = time.perf_counter()
            else:
                self.gc_s += time.perf_counter() - self._gc_t0

        gc.callbacks.append(on_gc)
        self._on_gc = on_gc

    def close(self) -> None:
        self.uninstall()
        py4j.clientserver.JavaClient.send_command = self._orig_send
        if self._on_gc in gc.callbacks:
            gc.callbacks.remove(self._on_gc)

    # -- spans -----------------------------------------------------------
    def _set_group(self, span: dict | None) -> None:
        counting, self._counting = self._counting, False
        try:
            if span is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(f"span-{span['id']}", span["name"])
        finally:
            self._counting = counting

    def begin(self, name: str, **attrs) -> dict:
        span = {
            "id": self._next_id, "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "trace": self.ops[-1]["trace"] if self.ops else None,
            "start": time.time(), "end": None, "py4j0": self.py4j_calls, **attrs,
        }
        self._next_id += 1
        self._stack.append(span)
        self._set_group(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.time()
        span["py4j"] = self.py4j_calls - span.pop("py4j0")
        self._stack.remove(span)
        self._set_group(self._stack[-1] if self._stack else None)
        if self.ops:
            self.ops[-1]["spans"].append(span)

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **k):
            span = tracer.begin(name)
            try:
                return fn(*a, **k)
            finally:
                tracer.end(span)

        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        """Wrap every public call in WRAPPED, every module-level binding of
        ``session.read_table``, DataFrameWriter.parquet, and the two
        executor-side probes."""
        from pyspark.sql.readwriter import DataFrameWriter

        from cioos_siooc_data_transform_spark import session
        from cioos_siooc_data_transform_spark.sources import geojson_source, ios_source

        for mod_name, attr, name in WRAPPED:
            mod = sys.modules.get(mod_name) or __import__(mod_name, fromlist=[attr])
            self._patch(mod, attr, self.wrap(getattr(mod, attr), name))
        if self._read_table_homes is None:
            # the query modules bind it under other names (``_t``)
            self._read_table_homes = [
                (m, name) for m in list(sys.modules.values())
                for name, value in list(getattr(m, "__dict__", {}).items())
                if value is session.read_table
            ]
        traced_read = self.wrap(session.read_table, "session.read_table")
        for mod, name in self._read_table_homes:
            self._patch(mod, name, traced_read)

        orig_parquet = DataFrameWriter.parquet
        tracer = self

        @functools.wraps(orig_parquet)
        def parquet(writer, path, *a, **k):
            span = tracer.begin("write.parquet", path=str(path).rsplit("/", 1)[-1])
            try:
                return orig_parquet(writer, path, *a, **k)
            finally:
                tracer.end(span)

        self._patch(DataFrameWriter, "parquet", parquet)
        a = self.acc
        self._patch(ios_source, "parse_ios_file_safe", make_parse_probe(
            ios_source.parse_ios_file_safe, a["parse_calls"], a["parse_bytes"], a["parse_s"]))
        self._patch(geojson_source, "_contains_udf", make_contains_probe(
            geojson_source._contains_udf.func, a["udf_rows"], a["udf_matches"]))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- traced operations ---------------------------------------------
    def begin_op(self, name: str) -> dict:
        """Start a traced operation: its root span is called ``name`` and
        its spans share the trace id ``op-<n>``."""
        op = {"trace": f"op-{len(self.ops)}", "spans": [], "jobs": [],
              "acc0": {k: v.value for k, v in self.acc.items()}, "gc0": self.gc_s}
        self.ops.append(op)
        jobs = self.sc._jsc.sc().statusStore().jobsList(None)
        if jobs.size():
            self._seen_job = max(self._seen_job, jobs.apply(0).jobId())
        self.install()
        self._counting = True
        op["root"] = self.begin(name)
        return op

    def end_op(self) -> dict:
        op = self.ops[-1]
        self.end(op.pop("root"))
        self._counting = False
        self.uninstall()
        acc0 = op.pop("acc0")
        op["acc"] = {k: v.value - acc0[k] for k, v in self.acc.items()}
        op["gc_s"] = self.gc_s - op.pop("gc0")
        self._collect_jobs(op)
        return op

    # -- status store --------------------------------------------------
    def _collect_jobs(self, op: dict) -> None:
        """Read jobs newer than the last read, with their stage metrics,
        and attach each to a span of ``op``."""
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        fresh = []
        for i in range(jobs.size()):  # newest first
            j = jobs.apply(i)
            if j.jobId() <= self._seen_job:
                break
            fresh.append(j)
        if fresh:
            self._seen_job = fresh[0].jobId()
        by_id = {s["id"]: s for s in op["spans"]}
        empty = jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        for j in reversed(fresh):
            submitted = _opt(j.submissionTime())
            t_sub = submitted.getTime() / 1000.0 if submitted is not None else None
            group = _opt(j.jobGroup())
            span = None
            if group and group.startswith("span-"):
                span = by_id.get(int(group[5:]))
            if span is None and t_sub is not None:
                inside = [s for s in op["spans"] if s["start"] - 0.002 <= t_sub <= s["end"] + 0.002]
                span = min(inside, key=lambda s: s["end"] - s["start"], default=None)
            job = {"id": j.jobId(), "span": span["id"] if span else None,
                   "submitted": t_sub, "stages": []}
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                attempts = store.stageData(sid, False, empty, False, no_quantiles)
                if attempts.size() == 0:
                    continue
                sd = attempts.apply(0)
                stage = {"id": sid, "attempt": sd.attemptId()}
                for key, getter in STAGE_FIELDS:
                    stage[key] = getattr(sd, getter)()
                job["stages"].append(stage)
            op["jobs"].append(job)
        heaviest = max((s for j in op["jobs"] for s in j["stages"]),
                       key=lambda s: s["run_ms"], default=None)
        op["task_skew"] = None
        if heaviest is not None and heaviest["tasks"] >= 2:
            q = self.sc._gateway.new_array(jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            dist = _opt(store.taskSummary(heaviest["id"], heaviest["attempt"], q))
            if dist is not None:
                run = dist.executorRunTime()
                if run.apply(0) > 0:
                    op["task_skew"] = run.apply(1) / run.apply(0)


# -- span arithmetic -------------------------------------------------------
def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its direct children."""
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, last = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], last), min(c["end"], s["end"])
            if b > a:
                covered += b - a
                last = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def total(spans: list[dict], name: str, **match) -> float:
    """Summed duration of the outermost spans called ``name``."""
    by_id = {s["id"]: s for s in spans}

    def nested(s):
        p = by_id.get(s["parent"])
        while p is not None:
            if p["name"] == name:
                return True
            p = by_id.get(p["parent"])
        return False

    return sum(
        s["end"] - s["start"] for s in spans
        if s["name"] == name and all(s.get(k) == v for k, v in match.items())
        and not nested(s)
    )


def subtree(spans: list[dict], name: str) -> set[int]:
    """Ids of the spans called ``name`` and everything beneath them."""
    ids = {s["id"] for s in spans if s["name"] == name}
    grew = True
    while grew:
        more = {s["id"] for s in spans if s["parent"] in ids} - ids
        grew = bool(more)
        ids |= more
    return ids
