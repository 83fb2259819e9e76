"""The benchmark's workloads: convert_nightly and incremental_delta, which
BENCHMARK.json lists, and query_mix, which runs by hand (see NOTES.md).

Each workload generates its inputs from the seed (``prepare``), runs one
closed-loop operation at a time (``op``) and checks the operation's outputs
against what the generator knows (``check``). ``prepare`` and ``check`` run
outside the timed region. ``op`` returns the latency samples it measured,
the items it processed and, where it converts files, bytes in and out.
"""

from __future__ import annotations

import gc
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import corpus
from perfbench.tables import write_tables

#: the nightly sequence's file types, and per type the (kind, count,
#: file-id prefix, extensions) of the files in its directory. The
#: reference cron converts moorings in a separate ``all mctd`` step; here
#: they are .ctd files in the ctd directory (the same ``cli.convert`` code
#: path), which saves one call's fixed cost so a run fits the time budget.
NIGHTLY = {
    "ctd": [("ctd", 300, "c", ("ctd",)), ("mooring", 4, "m", ("ctd",))],
    "bot": [("bottle", 60, "b", ("bot", "che"))],
}

#: query_mix: one query per operator family, at most about a second each
#: on 4 cores at QUERY_SCALE, so a run holds several passes.
QUERY_MIX = [
    "q1_pricing_summary",          # scan + hash aggregate
    "q5_supplier_volume",          # six-table join chain
    "semi_join_present",           # shuffled semi join
    "geo_containment_join",        # broadcast theta join + collect_list
    "ranking_window_bodc",         # window function
    "session_windows",             # session windows
    "asof_join_events",            # union + window as-of join
    "dedup_pipeline_pairs_xxhash",  # minhash LSH + Jaccard confirm
    "text_tfidf",                  # broadcast document frequencies
    "similarity_topk_bruteforce",  # cosine ranking
    "multimodal_decode_features",  # mapInPandas Python crossing
    "gsw_rho_ct_native",           # 75-term polynomial codegen
    "graph_pagerank_iterations",   # unrolled iterative joins
]
QUERY_SCALE = 0.01


@dataclass
class OpResult:
    samples: list[float]  # latency of each unit the op timed, seconds
    items: int  # files converted or queries run
    in_bytes: int = 0
    out_bytes: int = 0
    failed: int | None = None  # units failed; None: the whole op if any problem
    layer: dict = field(default_factory=dict)  # per-op counts for the trace


def dir_size(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) under ``path``, skipping Spark's hidden and marker
    files."""
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")) or not f.endswith(suffix):
                continue
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b)) + 1e-6


class ConvertNightly:
    """The reference's nightly cron job: ``cli.convert`` over the ctd and
    bot directories in turn, with geo codes and NetCDF."""

    name = "convert_nightly"

    def prepare(self, ctx) -> None:
        rng = random.Random(ctx.seed)
        polys = corpus.make_polygons(rng)
        self.geojson = os.path.join(ctx.work, "polygons.geojson")
        corpus.write_geojson(self.geojson, polys)
        self.in_dir = os.path.join(ctx.work, "in")
        self.out_dir = os.path.join(ctx.work, "out")
        self.exp = {}
        for ftype, inputs in NIGHTLY.items():
            self.exp[ftype] = corpus.Expected()
            for kind, count, prefix, exts in inputs:
                self.exp[ftype].add(corpus.write_files(
                    os.path.join(self.in_dir, ftype), rng, polys, kind, count,
                    prefix, exts))
        self.sample = sample_files(self.in_dir, 40)

    def before_op(self, ctx, index: int) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def op(self, ctx, index: int) -> OpResult:
        from cioos_siooc_data_transform_spark import cli

        t0 = time.perf_counter()
        self.returned = {}
        for ftype in NIGHTLY:
            t_call = time.perf_counter()
            self.returned[ftype] = cli.convert(
                "all", ftype, os.path.join(self.in_dir, ftype),
                os.path.join(self.out_dir, ftype), geojson=self.geojson,
                netcdf=True, spark=ctx.spark)
            key = f"convert_{ftype}_s"
            ctx.notes[key] = ctx.notes.get(key, 0.0) + time.perf_counter() - t_call
        dt = time.perf_counter() - t0
        files = sum(e.files for e in self.exp.values())
        in_bytes = sum(e.in_bytes for e in self.exp.values())
        pq_bytes, pq_files = 0, 0
        nc_bytes = 0
        for ftype in NIGHTLY:
            base = os.path.join(self.out_dir, ftype)
            for part in ("measurements", "variables", "headers", "catalog"):
                b, n = dir_size(os.path.join(base, part))
                pq_bytes, pq_files = pq_bytes + b, pq_files + n
            nc_bytes += dir_size(os.path.join(base, "netcdf"), ".nc")[0]
        return OpResult([dt], files, in_bytes, pq_bytes + nc_bytes, layer={
            "cf_parquet.bytes_out": pq_bytes, "cf_parquet.files_out": pq_files,
            "cf_netcdf.bytes_out": nc_bytes, "input_files": files,
            "input_bytes": in_bytes})

    def check(self, ctx, index: int, res: OpResult) -> list[str]:
        problems = []
        routed = channels = errors = 0
        for ftype in NIGHTLY:
            exp, base = self.exp[ftype], os.path.join(self.out_dir, ftype)
            got = self.returned[ftype]
            if (got["files"], got["errors"]) != (exp.files, exp.errors):
                problems.append(f"{ftype}: convert returned {got['files']} files "
                                f"{got['errors']} errors, expected {exp.files} {exp.errors}")
            cat = pq.read_table(os.path.join(base, "catalog"), columns=["file_id", "error"])
            n_err = cat.num_rows - cat["error"].null_count
            errors += n_err
            if (cat.num_rows, n_err) != (exp.files, exp.errors):
                problems.append(f"{ftype}: catalog {cat.num_rows} rows {n_err} errors")
            meas = pq.read_table(os.path.join(base, "measurements"),
                                 columns=["var_code", "value_num"])
            if meas.num_rows != exp.cf_rows:
                problems.append(f"{ftype}: {meas.num_rows} measurement rows, "
                                f"expected {exp.cf_rows}")
            sums = meas.group_by("var_code").aggregate([("value_num", "sum")])
            got_sums = dict(zip(sums["var_code"].to_pylist(),
                                sums["value_num_sum"].to_pylist()))
            if set(got_sums) != set(exp.var_sums) or not all(
                _close(got_sums[k] or 0.0, v) for k, v in exp.var_sums.items()
            ):
                problems.append(f"{ftype}: var_code sums {got_sums} != {exp.var_sums}")
            n_vars = pq.read_table(os.path.join(base, "variables"),
                                   columns=["file_id"]).num_rows
            routed += n_vars
            channels += exp.channels
            if n_vars != exp.routed_channels:
                problems.append(f"{ftype}: {n_vars} coded variables, "
                                f"expected {exp.routed_channels}")
            n_nc = dir_size(os.path.join(base, "netcdf"), ".nc")[1]
            if n_nc != exp.nc_files:
                problems.append(f"{ftype}: {n_nc} NetCDF files, expected {exp.nc_files}")
            geo = pq.read_table(os.path.join(base, "geo_codes")).to_pydict()
            got_geo = dict(zip(geo["file_id"], geo["geo_code"]))
            if got_geo != exp.geo:
                bad = sorted(k for k in exp.geo if got_geo.get(k) != exp.geo[k])[:3]
                problems.append(f"{ftype}: geo codes differ for {bad} "
                                f"({[(got_geo.get(k), exp.geo[k]) for k in bad]})")
        res.layer["ios_format.error_rows"] = errors
        res.layer["bodc.routed_frac"] = routed / channels if channels else 0.0
        return problems


class IncrementalDelta:
    """A base corpus drained once during preparation; each operation lands
    a delta of new files and drains it with an AvailableNow trigger."""

    name = "incremental_delta"
    base_files = 20
    delta_files = 100

    def prepare(self, ctx) -> None:
        from cioos_siooc_data_transform_spark.streaming import incremental

        self.rng = random.Random(ctx.seed)
        self.polys = corpus.make_polygons(self.rng)
        self.root = os.path.join(ctx.work, "landing")
        self.stage = os.path.join(ctx.work, "stage")
        self.out_dir = os.path.join(ctx.work, "out")
        self.ckpt = os.path.join(ctx.work, "checkpoint")
        os.makedirs(self.root)
        self.total = corpus.Expected()
        self.delta = self._land("base", self.base_files)
        self.sample = sample_files(self.root, 40)
        self.seen_batches = set()
        t0 = time.perf_counter()
        incremental.run_incremental_ingest(ctx.spark, self.root, self.out_dir, self.ckpt)
        ctx.notes["base_drain_s"] = time.perf_counter() - t0
        self.problems = [f"base drain: {p}" for p in self.check(ctx, -1, OpResult([], 0))]

    def _land(self, name: str, n: int) -> corpus.Expected:
        """Write ``n`` files beside the landing tree, then move them in
        with one rename so the stream never lists a partial file."""
        staged = os.path.join(self.stage, name)
        exp = corpus.Expected()
        per_kind = {"ctd": n - n // 10, "bottle": n // 10}
        for kind, count in per_kind.items():
            exp.add(corpus.write_files(
                staged, self.rng, self.polys, kind, count, f"{name}_{kind[0]}",
                ("ctd",) if kind == "ctd" else ("bot", "che")))
        os.rename(staged, os.path.join(self.root, name))
        self.total.add(exp)
        return exp

    def before_op(self, ctx, index: int) -> None:
        self.delta = self._land(f"delta{index:04d}", self.delta_files)

    def op(self, ctx, index: int) -> OpResult:
        from cioos_siooc_data_transform_spark.streaming import incremental

        t0 = time.perf_counter()
        incremental.run_incremental_ingest(ctx.spark, self.root, self.out_dir, self.ckpt)
        dt = time.perf_counter() - t0
        new = self._new_batches()
        out_bytes = sum(
            dir_size(os.path.join(self.out_dir, part, b))[0]
            for part in ("catalog", "measurements") for b in new
        )
        return OpResult([dt], self.delta.files, self.delta.in_bytes, out_bytes, layer={
            "incremental.checkpoint_bytes": dir_size(self.ckpt)[0],
            "input_files": self.delta.files, "input_bytes": self.delta.in_bytes})

    def _new_batches(self) -> list[str]:
        have = {d for d in os.listdir(os.path.join(self.out_dir, "catalog"))
                if d.startswith("batch_id=")}
        return sorted(have - self.seen_batches)

    def check(self, ctx, index: int, res: OpResult) -> list[str]:
        problems = []
        new = self._new_batches()
        self.seen_batches.update(new)
        cat = pq.read_table(os.path.join(self.out_dir, "catalog"),
                            columns=["file_id", "error"])
        ids = cat["file_id"].to_pylist()
        if len(ids) != len(set(ids)):
            problems.append(f"{len(ids) - len(set(ids))} files written twice")
        n_err = cat.num_rows - cat["error"].null_count
        if (cat.num_rows, n_err) != (self.total.files, self.total.errors):
            problems.append(f"catalog {cat.num_rows} rows {n_err} errors, expected "
                            f"{self.total.files} {self.total.errors}")
        rows = values = 0
        total = 0.0
        for b in new:
            meas = pq.read_table(os.path.join(self.out_dir, "measurements", b),
                                 columns=["value_num"])["value_num"]
            rows += len(meas)
            values += len(meas) - meas.null_count
            total += pc.sum(meas).as_py() or 0.0
        d = self.delta
        if (rows, values) != (d.raw_rows, d.raw_values) or not _close(total, d.raw_sum):
            problems.append(f"delta measurements rows={rows} values={values} "
                            f"sum={total}, expected {d.raw_rows} {d.raw_values} {d.raw_sum}")
        delta_ids = [i for i in ids if i in d.geo]
        delta_err = sum(1 for i, e in zip(ids, cat["error"].to_pylist())
                        if e is not None and i in d.geo)
        if len(delta_ids) != d.files:
            problems.append(f"delta landed {d.files} files, catalog has {len(delta_ids)}")
        res.layer["ios_format.error_rows"] = delta_err
        return problems


class QueryMix:
    """Registered queries through the noop sink in a seed-shuffled order,
    over seeded warehouse tables. One operation is one pass over the mix;
    each query execution is one latency sample."""

    name = "query_mix"
    traces_units = True  # op() opens one traced operation per query

    def prepare(self, ctx) -> None:
        from cioos_siooc_data_transform_spark.plans import all_oracles, all_queries
        from tests.oracle_harness import compare_query

        self.sf_dir = os.path.join(ctx.work, "tables")
        write_tables(self.sf_dir, ctx.seed, QUERY_SCALE)
        self.queries = all_queries()
        self.rng = random.Random(ctx.seed)
        self.sample = []
        # correctness: hash-match every query of the mix against its
        # DuckDB oracle; this pass also warms the session's table views
        oracles = all_oracles()
        self.problems = []
        for name in QUERY_MIX:
            try:
                ok, msg = compare_query(ctx.spark, self.sf_dir, self.queries[name],
                                        oracles[name])
            except Exception as exc:  # noqa: BLE001 — reported as a failure
                ok, msg = False, f"{type(exc).__name__}: {exc}"[:300]
            if not ok:
                self.problems.append(f"{name}: {msg}")
        self.failed_names = {p.split(":")[0] for p in self.problems}

    def before_op(self, ctx, index: int) -> None:
        self.order = list(QUERY_MIX)
        self.rng.shuffle(self.order)

    def op(self, ctx, index: int) -> OpResult:
        samples = []
        tracer = ctx.tracer if ctx.traced else None
        for name in self.order:
            fn = self.queries[name]
            gc.collect()
            if tracer:
                tracer.begin_op("query")
                construct = tracer.begin("plans.construct", query=name)
            t0 = time.perf_counter()
            df = fn(ctx.spark, self.sf_dir)
            if tracer:
                tracer.end(construct)
                write = tracer.begin("exec.noop_write", query=name)
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
            if tracer:
                tracer.end(write)
                tracer.end_op()
        return OpResult(samples, len(samples))

    def check(self, ctx, index: int, res: OpResult) -> list[str]:
        # the oracle comparison ran once per query in prepare; every
        # execution of a query that failed it counts as failed
        res.failed = sum(1 for name in self.order if name in self.failed_names)
        return []


def sample_files(root: str, n: int) -> list[tuple[str, str]]:
    """The first ``n`` files under ``root`` in path order, as (path, text):
    the fixed sample the driver-side parse rate is measured on."""
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
    out = []
    for p in paths[:n]:
        with open(p, "rb") as fh:
            out.append((p, fh.read().decode("ascii", errors="ignore")))
    return out


WORKLOADS = {w.name: w for w in (ConvertNightly, IncrementalDelta, QueryMix)}
