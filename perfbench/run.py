"""Benchmark of the ssidentity_spark engine: one workload per run.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

- ``ingest``: generated 802.11 frames through the batch parse and sink, the
  streaming ingest and the presence alerts;
- ``queries``: the single-pass relational and the multi-round headliners of
  the query registry over generated tables.

A run starts the session, generates and writes its inputs, warms the scan
and makes one checked warm-up pass; ``setup_s`` is the time from process
start (imports and JVM launch included) to the first timed operation. It
then repeats timed passes, closed loop with one client, at least twice and
until ``--seconds`` have passed. ``pass_s`` is
the sum over the workload's operations of each one's median wall time.
Every output is checked against ground truth the benchmark computes on its
own; a wrong output is a failed operation.

With ``--trace 0`` the last stdout line carries the end-to-end metrics. With
``--trace 1`` the timed passes go untraced, traced, traced, untraced; the
per-layer metrics come from the traced ones, and ``trace.overhead_pct`` is
the gap between the two kinds. Spans are written to
``.perfbench_work/traces/`` when the run ends. The line before the last
gives sample counts, quartiles, phase times and per-operation throughput.

Everything the run writes stays under the checkout: inputs, outputs,
Spark's local and temporary directories. The session is the one
``session.get_spark()`` builds, with no settings changed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
MIN_PASSES = 2  # a median of one pass would be one stall away from an outlier
END_TO_END = ("setup_s", "pass_s")


def _isolate_environment() -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the engine whatever the working directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    jvm = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS", ""), jvm]))
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    sys.path[:0] = [ROOT, HERE]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


class Run:
    """State shared by one benchmark run: arguments, tracer, work dir,
    operation counts and the timings of the timed passes."""

    def __init__(self, args):
        from spans import Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.traced_run = bool(args.trace)
        self.tracer = Tracer(enabled=False)
        self.dir = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.setup_s: float | None = None
        self.get_spark_s: float | None = None
        # per operation: wall seconds of each timed pass, split by tracing
        self.op_times: dict[str, dict[bool, list[float]]] = {}
        self.per_layer: dict[str, float] = {}
        self.detail: dict = {"phases_s": {}}

    def mark(self, phase: str) -> None:
        """Seconds since process start at the end of ``phase``."""
        self.detail["phases_s"][phase] = time.perf_counter() - T_START

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def check(self, op: str, ok: bool, why: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{op}: {why}")
        return ok

    def record(self, op: str, seconds: float) -> None:
        self.op_times.setdefault(op, {True: [], False: []})[self.tracer.enabled].append(
            seconds
        )

    def setup(self, build_inputs, warm):
        """Start the session (the JVM's first), build and write the inputs,
        warm the scan. Returns the session and the inputs."""
        from ssidentity_spark.session import get_spark

        g0 = time.perf_counter()
        spark = get_spark()
        self.get_spark_s = time.perf_counter() - g0
        inputs = build_inputs(spark, self.path("inputs"))
        warm(spark, inputs)
        self.mark("setup")
        return spark, inputs

    def timed_passes(self, one_pass) -> int:
        """Closed loop: run ``one_pass`` at least MIN_PASSES times and until
        ``seconds`` have passed. A traced run makes at least four passes,
        untraced, traced, traced, untraced, so that the warm-up trend
        cancels out of the tracing overhead."""
        self.setup_s = time.perf_counter() - T_START
        deadline = time.perf_counter() + self.seconds
        n = 0
        while n < (4 if self.traced_run else MIN_PASSES) or time.perf_counter() < deadline:
            self.tracer.enabled = self.traced_run and n % 4 in (1, 2)
            self.tracer.pass_id = n
            one_pass()
            n += 1
        self.tracer.enabled = False
        return n

    def op_medians(self, traced: bool = False) -> dict[str, float]:
        return {
            op: statistics.median(t[traced]) for op, t in self.op_times.items() if t[traced]
        }

    def metrics(self) -> dict[str, dict]:
        untraced = self.op_medians(traced=False)
        if self.traced_run:
            traced = self.op_medians(traced=True)
            overhead = 100.0 * (sum(traced.values()) / sum(untraced.values()) - 1.0)
            values = dict(
                self.per_layer,
                **{"session.get_spark_s": self.get_spark_s, "trace.overhead_pct": overhead},
            )
            declared = {m["name"]: m["unit"] for m in benchmark_spec()["per_layer"]}
            unknown = set(values) - set(declared)
            if unknown:
                raise RuntimeError(f"per-layer metrics not declared: {sorted(unknown)}")
            # a layer this workload does not reach reads 0
            return {k: {"value": values.get(k, 0.0), "unit": u} for k, u in declared.items()}
        values = {"setup_s": self.setup_s, "pass_s": sum(untraced.values())}
        return {k: {"value": values[k], "unit": "s"} for k in END_TO_END}

    def describe(self) -> dict:
        ops = {}
        for op, t in self.op_times.items():
            for traced, vals in t.items():
                if vals:
                    q1, q2, q3 = quartiles(vals)
                    key = f"{op}{' (traced)' if traced else ''}"
                    ops[key] = {"n": len(vals), "q1": q1, "median": q2, "q3": q3}
        return {
            "setup_s": self.setup_s,
            "session.get_spark_s": self.get_spark_s,
            "ops": ops,
            "failures": self.failures,
            **self.detail,
        }


def workload_runners() -> dict:
    import ingest
    import queries

    return {"ingest": ingest.run, "queries": queries.run}


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _isolate_environment()
    import ssidentity_spark  # fails here when the checkout has no engine

    if not os.path.abspath(ssidentity_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"ssidentity_spark comes from outside {ROOT}")

    workloads = workload_runners()
    if args.workload not in workloads:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")
    run = Run(args)
    os.makedirs(run.dir, exist_ok=True)
    try:
        spark = workloads[args.workload](run)
        run.mark("measured")
        if run.traced_run:
            run.detail["self_times_s"] = run.tracer.self_times()
            run.tracer.write(
                os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
            )
        _stop(spark)
        run.mark("stopped")
    finally:
        shutil.rmtree(run.dir, ignore_errors=True)
    print(json.dumps({"detail": run.describe()}, default=str))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": run.metrics(),
            }
        ),
        flush=True,
    )
    return 0


def _stop(spark) -> None:
    """Stop the session, then the JVM the driver launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    raise SystemExit(main())
