#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload convert_nightly --seed 1 \
        --seconds 10 --trace 0

Run it from the root of a checkout. Workloads: convert_nightly,
incremental_delta, query_mix (see NOTES.md). One process is one closed-loop
single client on ``local[<cores>]``: it sets up a warm session, generates
the workload's inputs from ``--seed``, runs operations one after another
until ``--seconds`` of operation time have passed, and checks every
operation's outputs outside the timed region.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` traces every
operation and reports the per-layer metrics, the traced operation latency
(compare it with the untraced run's ``op_p50_s`` for the tracing overhead)
and how much of the timed operation latency the span self times cover; it also
writes the spans and jobs to ``.bench_work/traces/``.

Lines starting with ``#`` are a readable report; the last line of standard
output is one JSON object with keys correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def process_age_s() -> float:
    """Seconds since this process was created, from /proc."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as f:
        return float(f.read().split()[0]) - start


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and size local[N] to this host's cores."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def setup(ctx) -> None:
    """Warm session with the query registry imported: the set-up every
    workload pays, timed from process creation."""
    from cioos_siooc_data_transform_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    ctx.notes["get_spark_s"] = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    import cioos_siooc_data_transform_spark.plans  # noqa: F401 — fills the registry

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    ctx.spark = spark
    ctx.setup_s = process_age_s()


def stop(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — fall back to killing it
            proc.kill()
            proc.wait()


def parse_rate_us_per_kb(sample: list[tuple[str, str]]) -> float:
    """Driver-side ``parse_ios_file_safe`` time per KB over a fixed file
    sample, median of five passes."""
    from cioos_siooc_data_transform_spark.sources.ios_format import parse_ios_file_safe

    kb = sum(len(text) for _, text in sample) / 1024.0
    rates = []
    for _ in range(5):
        t0 = time.perf_counter()
        for path, text in sample:
            parse_ios_file_safe(path, text)
        rates.append((time.perf_counter() - t0) * 1e6 / kb)
    return statistics.median(rates)


def run_loop(ctx, wl, seconds: float):
    """Closed loop: one operation at a time until ``seconds`` of timed
    operation have passed. With a tracer every operation is traced."""
    ops = []
    timed = 0.0
    index = 0
    while timed < seconds:
        wl.before_op(ctx, index)
        ctx.traced = ctx.tracer is not None
        own_trace = ctx.traced and not getattr(wl, "traces_units", False)
        if own_trace:
            top = ctx.tracer.begin_op("op")
        t0 = time.perf_counter()
        error = None
        try:
            res = wl.op(ctx, index)
        except Exception as exc:  # noqa: BLE001 — counted as a failed operation
            error = f"{type(exc).__name__}: {exc}"
            res = None
        wall = time.perf_counter() - t0
        if own_trace:
            ctx.tracer.end_op()
        if res is None:
            problems = [error]
            units, failed = 1, 1
            samples = [wall]
        else:
            try:
                problems = wl.check(ctx, index, res)
            except Exception as exc:  # noqa: BLE001 — unreadable output fails the op
                problems = [f"check raised {type(exc).__name__}: {exc}"]
            units = len(res.samples)
            failed = res.failed if res.failed is not None else (1 if problems else 0)
            samples = res.samples
            if own_trace:
                top["layer"] = res.layer
        for p in problems:
            print(f"# FAILED op {index}: {p}", flush=True)
        ops.append({"res": res, "units": units, "failed": failed, "samples": samples})
        timed += sum(samples)
        index += 1
    return ops


def e2e_metrics(ctx, ops) -> dict:
    samples = [s for o in ops for s in o["samples"]]
    timed = sum(samples)
    res = [o["res"] for o in ops if o["res"] is not None]
    items = sum(r.items for r in res)
    if ctx.workload == "query_mix":
        return {
            "setup_s": (ctx.setup_s, "s"),
            "query_p50_s": (statistics.median(samples), "s"),
            "query_p90_s": (statistics.quantiles(samples, n=10)[-1], "s"),
            "queries_per_min": (60.0 * items / timed, "1/min"),
        }
    return {
        "setup_s": (ctx.setup_s, "s"),
        "files_per_s": (items / timed, "1/s"),
        "op_p50_s": (statistics.median(samples), "s"),
        "out_bytes_per_in_byte": (sum(r.out_bytes for r in res)
                                  / max(sum(r.in_bytes for r in res), 1), "ratio"),
    }


#: layers only query_mix drives; the file-conversion workloads omit them
QUERY_LAYER = ("session.read_table_s", "session.read_table_calls", "plans.construct_s",
               "plans.py4j_calls", "plans.construct_jobs", "plans.catalyst_s")


def layer_metrics(ctx, ops) -> dict:
    from perfbench.tracing import self_times, subtree, total

    t_ops = ctx.tracer.ops
    n = max(len(t_ops), 1)

    def per_op(f) -> float:
        return sum(f(op) for op in t_ops) / n

    def layer(op, key) -> float:
        return op.get("layer", {}).get(key, 0)

    def jobs_under(op, name) -> list[dict]:
        ids = subtree(op["spans"], name)
        return [j for j in op["jobs"] if j["span"] in ids]

    def stages(jobs):
        return [s for j in jobs for s in j["stages"]]

    def first_job_delay(op) -> float:
        """Driver time from the start of the noop write to its first job:
        analysis, optimization and (adaptive) physical planning."""
        writes = [s for s in op["spans"] if s["name"] == "exec.noop_write"]
        if not writes:
            return 0.0
        ids = {s["id"] for s in writes}
        starts = [j["submitted"] for j in op["jobs"] if j["span"] in ids and j["submitted"]]
        return min(starts) - writes[0]["start"] if starts else 0.0

    in_files = sum(layer(op, "input_files") for op in t_ops)
    in_bytes = sum(layer(op, "input_bytes") for op in t_ops)
    acc = {k: sum(op["acc"][k] for op in t_ops) for k in ctx.tracer.acc}
    drain_read = sum(s["input_bytes"] for op in t_ops
                     for s in stages(jobs_under(op, "incremental.run_incremental_ingest")))
    skews = [op["task_skew"] for op in t_ops if op.get("task_skew")]
    samples = [s for o in ops for s in o["samples"]]
    self_sum = sum(sum(self_times(op["spans"]).values()) for op in t_ops)
    m = {
        "cli.convert_s": (per_op(lambda op: total(op["spans"], "cli.convert")), "s"),
        "cli.jobs": (per_op(lambda op: len(jobs_under(op, "cli.convert"))), "count"),
        "cli.scan_passes": (acc["parse_calls"] / in_files
                            if ctx.workload == "convert_nightly" and in_files else 0.0, "ratio"),
        "ios_source.discover_s": (per_op(lambda op: total(op["spans"],
                                                          "ios_source.discover_files")), "s"),
        "ios_source.parse_exec_s": (acc["parse_s"] / n, "s"),
        "ios_source.python_bytes": (acc["parse_bytes"] / n, "B"),
        "ios_format.parse_us_per_kb": (ctx.notes.get("parse_us_per_kb", 0.0), "us/KB"),
        "ios_format.error_rows": (per_op(lambda op: layer(op, "ios_format.error_rows")), "count"),
        "geojson_source.assign_s": (per_op(
            lambda op: total(op["spans"], "geojson_source.assign_geo_code")
            + total(op["spans"], "write.parquet", path="geo_codes")), "s"),
        "geojson_source.udf_rows_per_match": (
            acc["udf_rows"] / acc["udf_matches"] if acc["udf_matches"] else 0.0, "ratio"),
        "bodc.routed_frac": (per_op(lambda op: layer(op, "bodc.routed_frac")), "ratio"),
        "cf_parquet.write_s": (per_op(lambda op: total(op["spans"],
                                                       "cf_parquet.write_cf_dataset")), "s"),
        "cf_parquet.bytes_out": (per_op(lambda op: layer(op, "cf_parquet.bytes_out")), "B"),
        "cf_parquet.files_out": (per_op(lambda op: layer(op, "cf_parquet.files_out")), "count"),
        "cf_netcdf.write_s": (per_op(lambda op: total(op["spans"],
                                                      "cf_netcdf.write_netcdf_dir")), "s"),
        "cf_netcdf.bytes_out": (per_op(lambda op: layer(op, "cf_netcdf.bytes_out")), "B"),
        "incremental.drain_self_s": (per_op(
            lambda op: total(op["spans"], "incremental.run_incremental_ingest")
            - total(op["spans"], "incremental.write_ios_batch")), "s"),
        "incremental.batch_write_s": (per_op(
            lambda op: total(op["spans"], "incremental.write_ios_batch")), "s"),
        "incremental.batches": (per_op(lambda op: sum(
            1 for s in op["spans"] if s["name"] == "incremental.write_ios_batch")), "count"),
        "incremental.bytes_read_per_input_byte": (
            drain_read / in_bytes if ctx.workload == "incremental_delta" and in_bytes
            else 0.0, "ratio"),
        "incremental.checkpoint_bytes": (max(
            (layer(op, "incremental.checkpoint_bytes") for op in t_ops), default=0), "B"),
        "session.get_spark_s": (ctx.notes["get_spark_s"], "s"),
        "session.read_table_s": (per_op(lambda op: total(op["spans"], "session.read_table")), "s"),
        "session.read_table_calls": (per_op(lambda op: sum(
            1 for s in op["spans"] if s["name"] == "session.read_table")), "count"),
        "plans.construct_s": (per_op(lambda op: total(op["spans"], "plans.construct")), "s"),
        "plans.py4j_calls": (per_op(lambda op: sum(
            s["py4j"] for s in op["spans"] if s["name"] == "plans.construct")), "count"),
        "plans.construct_jobs": (per_op(lambda op: len(jobs_under(op, "plans.construct"))),
                                 "count"),
        "plans.catalyst_s": (per_op(first_job_delay), "s"),
        "exec.run_s": (per_op(lambda op: sum(s["run_ms"] for s in stages(op["jobs"])) / 1e3),
                       "s"),
        "exec.cpu_s": (per_op(lambda op: sum(s["cpu_ns"] for s in stages(op["jobs"])) / 1e9),
                       "s"),
        "exec.jobs": (per_op(lambda op: len(op["jobs"])), "count"),
        "exec.tasks": (per_op(lambda op: sum(s["tasks"] for s in stages(op["jobs"]))), "count"),
        "exec.shuffle_read_bytes": (per_op(lambda op: sum(
            s["shuffle_read"] for s in stages(op["jobs"]))), "B"),
        "exec.shuffle_write_bytes": (per_op(lambda op: sum(
            s["shuffle_write"] for s in stages(op["jobs"]))), "B"),
        "exec.spill_bytes": (per_op(lambda op: sum(
            s["spill_mem"] + s["spill_disk"] for s in stages(op["jobs"]))), "B"),
        "exec.task_skew": (statistics.median(skews) if skews else 0.0, "ratio"),
        "driver.py_gc_s": (per_op(lambda op: op["gc_s"]), "s"),
        "driver.peak_rss_mb": (ctx.peak_rss_mb, "MB"),
        "trace.op_p50_s": (statistics.median(samples), "s"),
        "trace.self_cover": (self_sum / sum(samples), "ratio"),
    }
    if ctx.workload != "query_mix":
        m = {k: v for k, v in m.items() if k not in QUERY_LAYER}
    return m


def span_report(tracer) -> list[str]:
    from perfbench.tracing import self_times

    rows: dict = {}
    for op in tracer.ops:
        selfs = self_times(op["spans"])
        for s in op["spans"]:
            r = rows.setdefault(s["name"], [0, 0.0, 0.0])
            r[0] += 1
            r[1] += s["end"] - s["start"]
            r[2] += selfs[s["id"]]
    n = max(len(tracer.ops), 1)
    lines = [f"# span {'name':38s} {'calls/op':>9s} {'total_s/op':>11s} {'self_s/op':>10s}"]
    for name, (calls, tot, slf) in sorted(rows.items(), key=lambda kv: -kv[1][2]):
        lines.append(f"# span {name:38s} {calls / n:9.2f} {tot / n:11.4f} {slf / n:10.4f}")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    bench_dir = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_dir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    ctx = SimpleNamespace(seed=args.seed, work=work, notes={}, tracer=None,
                          traced=False, workload=args.workload, spark=None)
    try:
        setup(ctx)
        wl = WORKLOADS[args.workload]()
        t0 = time.perf_counter()
        wl.prepare(ctx)
        ctx.notes["prepare_s"] = time.perf_counter() - t0
        if args.trace:
            from perfbench.tracing import Tracer

            ctx.tracer = Tracer(ctx.spark)
        ops = run_loop(ctx, wl, args.seconds)
        if args.trace and getattr(wl, "sample", None):
            ctx.notes["parse_us_per_kb"] = parse_rate_us_per_kb(wl.sample)
        jvm_pid = ctx.spark.sparkContext._gateway.proc.pid
        ctx.peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        problems = getattr(wl, "problems", [])
        attempted = sum(o["units"] for o in ops)
        failed = sum(o["failed"] for o in ops)
        if args.trace:
            metrics = layer_metrics(ctx, ops)
            report = span_report(ctx.tracer)
            trace_dir = os.path.join(bench_dir, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"ops": ctx.tracer.ops}, f, default=str)
            ctx.tracer.close()
        else:
            metrics = e2e_metrics(ctx, ops)
            report = []
    finally:
        if ctx.spark is not None:
            stop(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    samples = [s for o in ops for s in o["samples"]]
    print(f"# workload {args.workload} seed {args.seed} trace {args.trace} "
          f"cores {os.environ['SPARK_GRAFT_CPUS']}")
    print(f"# ops {len(ops)} units {attempted} failed {failed} "
          f"failed_frac {failed / attempted:.4f} timed_s {sum(samples):.3f}")
    print("# samples_s " + " ".join(f"{x:.3f}" for x in samples))
    for p in problems:
        print(f"# FAILED prepare: {p}")
    for k, v in sorted(ctx.notes.items()):
        print(f"# note {k} {v:.4f}")
    for line in report:
        print(line)
    for name, (value, unit) in metrics.items():
        print(f"# metric {name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — no result line on a broken run
        traceback.print_exc()
        sys.exit(1)
