"""The ``queries`` workload: one pinned registry headliner per plans module,
over tables the benchmark generates.

``SCAN`` are the single-pass relational headliners (2 to 12 jobs each, no
Python UDF: scan, shuffle and codegen dominate). ``ITERATIVE`` are the
multi-round and model headliners (fixpoint loops, persisted frames, Arrow
UDFs: time tracks job count more than data). Both groups run in one
workload because each workload run pays a cold warm-up pass; the
per-query and per-module metrics keep the two groups apart.

Each run first hash-checks every pinned query once against its DuckDB
oracle on the same tables (``tools/check_correctness.run_one``); that pass
is also the warm-up. Timed passes then go round-robin over the queries,
each forced through the noop sink, so a stall spreads over every query
instead of landing on one. ``pass_s`` is the sum over the queries of each
query's median wall time.
"""

from __future__ import annotations

import statistics
import time

import tables
from spans import SparkCounters, jvm_peak_rss_mb, union_length

# Scale of the generated tables: at sf0.1 the cold warm-up pass alone
# outlasts the time one run may take (see BENCHMARK.json).
SF = 0.01

# One pinned registry headliner per plans module. Where a module has a
# multi-round or model headliner, that one is pinned: fixpoint loops,
# persisted frames and Arrow UDFs, whose time tracks job count more than
# data.
ITERATIVE = (
    "graph_kcore",
    "dedup_semantic_cells",
    "pipe_decontaminate",
    "mm_png_decode",
)
# Single-pass relational headliners for the other modules: scan, shuffle
# and codegen dominate, and job-overhead or caching changes should leave
# them unmoved.
SCAN = (
    "w7_event_pattern",
    "sim_topk_bruteforce",
    "tpch_q1_pricing_summary",
    "tpch_q6_forecast_revenue",
    "text_token_stats",
    "ts_gapfill_interpolate",
)
MODULES = (
    "analytics",
    "dedup",
    "graph",
    "multimodal",
    "pipeline",
    "similarity",
    "text",
    "timeseries",
    "tpch",
    "tpch2",
)
COUNTERS = ("jobs", "tasks", "executor_cpu_s", "shuffle_bytes", "spill_bytes",
            "driver_gap_s")


def pinned_specs(names: tuple[str, ...]) -> dict:
    """The registry entries of ``names``; a missing name is an error, never
    a smaller workload."""
    from ssidentity_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    missing = [n for n in names if n not in REGISTRY]
    if missing:
        raise SystemExit(f"pinned queries missing from the registry: {missing}")
    return {n: REGISTRY[n] for n in names}


def module_of(spec) -> str:
    return spec.fn.__module__.rsplit(".", 1)[-1]


def build_inputs(bench):
    def build(spark, in_dir: str) -> str:
        tables.write(tables.generate(bench.seed, SF), in_dir)
        return in_dir

    return build


def load_all(spark, sf_dir: str) -> None:
    from ssidentity_spark.io import TABLES, load_table

    for name in TABLES:
        load_table(spark, sf_dir, name).write.format("noop").mode("overwrite").save()


def oracle_check(bench, spark, specs: dict, sf_dir: str) -> None:
    """Hash-check every query once against its DuckDB oracle."""
    import duckdb

    from ssidentity_spark.io import TABLES
    from tools.check_correctness import run_one

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        for name in specs:
            try:
                ok, msg = run_one(spark, con, name, sf_dir)
            except Exception as e:  # noqa: BLE001 - a crash is a failed check
                ok, msg = False, f"{type(e).__name__}: {str(e)[:200]}"
            bench.check(name, ok, msg)
    finally:
        con.close()


class QueryPass:
    def __init__(self, bench, spark, specs: dict, sf_dir: str):
        self.bench, self.spark, self.specs, self.sf_dir = bench, spark, specs, sf_dir
        self.counters = SparkCounters(spark)
        self.samples: dict[str, list[dict]] = {n: [] for n in specs}
        self.leaked = 0

    def one_pass(self) -> None:
        tr, sc = self.bench.tracer, self.spark.sparkContext
        for name, spec in self.specs.items():
            traced = tr.enabled
            group = f"{name}#{tr.pass_id}"
            if traced:
                sc.setJobGroup(group, name)
                rdds0 = self.counters.persistent_rdds()
            with tr.span(f"plans.{module_of(spec)}", query=name) as span:
                w0, t0 = time.time(), time.perf_counter()
                try:
                    spec.fn(self.spark, self.sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    ok, why = True, ""
                except Exception as e:  # noqa: BLE001 - counted as a failed operation
                    ok, why = False, f"{type(e).__name__}: {str(e)[:200]}"
                wall = time.perf_counter() - t0
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
            if not self.bench.check(name, ok, why):
                continue
            self.bench.record(name, wall)
            if not traced:
                continue
            c = self.counters.group_jobs(group)
            # job times are epoch seconds; place them on the span clock
            jobs = [(s - w0 + t0, e - w0 + t0) for s, e in c.pop("job_times")]
            for start, end in jobs:
                tr.add("spark.job", start, end, span["id"], query=name)
            c["driver_gap_s"] = wall - union_length(jobs, t0, t0 + wall)
            c["s"] = wall
            self.samples[name].append(c)
            self.leaked += self.counters.persistent_rdds() - rdds0

    def per_layer(self) -> dict[str, float]:
        m: dict[str, float] = {}
        for name, spec in self.specs.items():
            if not self.samples[name]:
                continue  # the query failed; the run reports it
            m[f"query.{name}.s"] = statistics.median(self.bench.op_times[name][False])
            mod = module_of(spec)
            for key in ("s",) + COUNTERS:
                m[f"plans.{mod}.{key}"] = m.get(f"plans.{mod}.{key}", 0.0) + statistics.median(
                    s[key] for s in self.samples[name])
        m["plans.leaked_rdds"] = self.leaked
        m["session.driver_peak_rss_mb"] = jvm_peak_rss_mb(self.spark)
        return m

    def unsteady_counts(self) -> dict[str, list]:
        """Counts that should not depend on load but differed between
        traced passes of this run."""
        out = {}
        for name, samples in self.samples.items():
            for key in ("jobs", "tasks", "shuffle_bytes"):
                vals = [s[key] for s in samples]
                if len(set(vals)) > 1:
                    out[f"{name}.{key}"] = vals
        return out


def run(bench):
    specs = pinned_specs(ITERATIVE + SCAN)
    spark, sf_dir = bench.setup(build_inputs(bench), load_all)
    oracle_check(bench, spark, specs, sf_dir)
    bench.mark("warm-up")
    qp = QueryPass(bench, spark, specs, sf_dir)
    n = bench.timed_passes(qp.one_pass)
    if bench.traced_run:
        bench.per_layer.update(qp.per_layer())
        bench.tracer.enabled = True
        scan = []
        for _ in range(3):
            with bench.tracer.span("io.load_table"):
                t0 = time.perf_counter()
                load_all(spark, sf_dir)
                scan.append(time.perf_counter() - t0)
        bench.tracer.enabled = False
        bench.per_layer["io.scan_s"] = statistics.median(scan)
        bench.detail["unsteady_counts"] = qp.unsteady_counts()
    med = bench.op_medians()
    bench.detail["queries"] = {
        "sf": SF,
        "passes": n,
        "scan_pass_s": sum(med[q] for q in SCAN),
        "iterative_pass_s": sum(med[q] for q in ITERATIVE),
    }
    return spark
