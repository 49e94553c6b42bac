"""The ``ingest`` workload: the reference's own pipeline over generated
frames, in four operations per pass.

- ``probe_heavy.batch``: read the frame bundles, ``parse_observations``,
  then ``write_observations`` to a fresh store, with ``parse_rejects``
  written beside it as a side output;
- ``probe_heavy.stream``: ``ingest_stream`` (watermarked dedup, parquet
  sink) draining the drop directory with an availableNow trigger;
- ``probe_heavy.alerts``: ``presence_alerts`` draining the same drop
  directory into a parquet sink;
- ``reject_heavy.batch``: the batch operation over the reject-heavy mix.

The two mixes are described in ``frames``; each has its own drop directory.
The streaming drains cost about the same on either mix, because their time
goes to each micro-batch rather than to each frame, so only the batch
operation runs on both. Each streaming operation is closed loop: Spark
starts a micro-batch when the previous one has committed: two data
micro-batches per drain, then the no-data batch that fires departure
timeouts. Bundles carry increasing modification times, so
the file source reads them in event-time order and no row is late.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import frames as fgen
from spans import ProgressListener, SparkCounters, jvm_peak_rss_mb

ALERT_GAP = "30 minutes"
ALERT_GAP_MS = 30 * 60_000
PHASES = {
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset",
}


def write_bundles(fs: fgen.FrameSet, drop_dir: str, n_bundles: int) -> None:
    import pyarrow.parquet as pq

    os.makedirs(drop_dir)
    edges = [round(i * len(fs) / n_bundles) for i in range(n_bundles + 1)]
    mtime = 1_500_000_000
    for b in range(n_bundles):
        path = os.path.join(drop_dir, f"bundle-{b:04d}.parquet")
        pq.write_table(fs.arrow(edges[b], edges[b + 1]), path)
        os.utime(path, (mtime + b, mtime + b))


def _frames(spark, drop_dir: str):
    from ssidentity_spark.schemas import RAW_FRAMES_SCHEMA

    return spark.read.schema(RAW_FRAMES_SCHEMA).parquet(drop_dir)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Mix:
    """One frame mix: its generated frames, ground truth and drop directory."""

    def __init__(self, name: str, spec: fgen.FrameSpec, seed: int, in_dir: str):
        self.name, self.spec = name, spec
        self.fs = fgen.generate(seed, spec)
        self.truth = fgen.truth(self.fs)
        self.drop = os.path.join(in_dir, name)
        write_bundles(self.fs, self.drop, spec.n_bundles)


class Ingest:
    def __init__(self, bench):
        self.run = bench
        self.probe = self.reject = None
        self.alerts_expected = self.alerts_final = None
        self.progress: dict[str, list[dict]] = {"ingest": [], "alerts": []}
        self.probe_times: dict[str, list[float]] = {}
        self.sink_stats: list[tuple[int, int]] = []
        self.alert_rows: list[int] = []
        self.n_pass = 0

    # --- set-up -------------------------------------------------------------

    def build_inputs(self, spark, in_dir: str) -> tuple[Mix, Mix]:
        seed = self.run.seed
        self.probe = Mix("probe_heavy", fgen.PROBE_HEAVY, seed, in_dir)
        self.reject = Mix("reject_heavy", fgen.REJECT_HEAVY, seed, in_dir)
        self.alerts_expected, self.alerts_final = fgen.expected_alerts(
            self.probe.truth.observations, ALERT_GAP_MS)
        return self.probe, self.reject

    def warm(self, spark, mixes) -> None:
        for mix in mixes:
            _noop(_frames(spark, mix.drop))

    # --- the operations -----------------------------------------------------

    def batch(self, spark, mix: Mix, out: str) -> None:
        from ssidentity_spark.io import write_observations
        from ssidentity_spark.parse import parse_observations, parse_rejects

        tr = self.run.tracer
        with tr.span("ingest.batch", mix=mix.name):
            t0 = time.perf_counter()
            frames = _frames(spark, mix.drop)
            with tr.span("io.write_observations"):
                write_observations(parse_observations(frames), os.path.join(out, "store"))
            with tr.span("parse.parse_rejects"):
                parse_rejects(frames).write.parquet(os.path.join(out, "rejects"))
            self.run.record(f"{mix.name}.batch", time.perf_counter() - t0)

    def _drain(self, kind: str, query) -> None:
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(f"{kind} stream failed: {query.exception()}")

    def stream(self, spark, out: str):
        from ssidentity_spark.streaming.ingest import ingest_stream, read_frame_stream

        with self.run.tracer.span("streaming.ingest_stream"):
            t0 = time.perf_counter()
            q = ingest_stream(
                read_frame_stream(spark, self.probe.drop),
                os.path.join(out, "stream"),
                os.path.join(out, "stream-ckpt"),
            )
            self._drain("ingest", q)
            self.run.record("probe_heavy.stream", time.perf_counter() - t0)
        return q.id

    def alerts(self, spark, out: str):
        from ssidentity_spark.parse import parse_observations
        from ssidentity_spark.streaming.alerts import presence_alerts
        from ssidentity_spark.streaming.ingest import read_frame_stream

        with self.run.tracer.span("streaming.presence_alerts"):
            t0 = time.perf_counter()
            q = (
                presence_alerts(
                    parse_observations(read_frame_stream(spark, self.probe.drop)),
                    gap=ALERT_GAP,
                )
                .writeStream.format("parquet")
                .option("path", os.path.join(out, "alerts"))
                .option("checkpointLocation", os.path.join(out, "alerts-ckpt"))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            self._drain("alerts", q)
            self.run.record("probe_heavy.alerts", time.perf_counter() - t0)
        return q.id

    # --- output checks (outside the timed region) ---------------------------

    def check_batch(self, spark, mix: Mix, out: str, full: bool) -> None:
        t, op = mix.truth, f"{mix.name}.batch"
        store = spark.read.parquet(os.path.join(out, "store"))
        rejects = spark.read.parquet(os.path.join(out, "rejects"))
        if not full:
            self.run.check(op, store.count() == t.accepted
                           and rejects.count() == sum(t.reject_counts.values()),
                           "row counts")
            return
        got_store = _rows(store)
        reasons = {r[0]: r[1] for r in rejects.groupBy("reject_reason").count().collect()}
        want_reasons = {k: v for k, v in t.reject_counts.items() if v}
        self.run.check(
            op,
            fgen.multiset_digest(got_store) == fgen.multiset_digest(t.observations)
            and reasons == want_reasons,
            f"store {len(got_store)} rows vs {t.accepted}; rejects {reasons}",
        )

    def check_streams(self, spark, out: str, full: bool) -> None:
        run, t = self.run, self.probe.truth
        stream = spark.read.parquet(os.path.join(out, "stream"))
        alerts = spark.read.parquet(os.path.join(out, "alerts"))
        if not full:
            run.check("probe_heavy.stream", stream.count() == t.distinct_observations,
                      "row count")
            n = alerts.count()
            self.alert_rows.append(n)
            run.check("probe_heavy.alerts", len(self.alerts_expected) <= n
                      <= len(self.alerts_expected) + len(self.alerts_final), "alert count")
            return
        got_stream = _rows(stream)
        run.check(
            "probe_heavy.stream",
            len(got_stream) == t.distinct_observations
            and fgen.multiset_digest(got_stream)
            == fgen.multiset_digest(set(t.observations)),
            f"stream {len(got_stream)} rows vs {t.distinct_observations}",
        )
        got = {tuple(r) for r in alerts.select(
            "mac", "alert_type", "event_ms", "sensor_id").collect()}
        must, may = set(self.alerts_expected), set(self.alerts_final)
        run.check(
            "probe_heavy.alerts",
            must <= got and not (got - must - may)
            and alerts.count() == len(got),
            f"alerts missing {len(must - got)}, unexpected {len(got - must - may)}",
        )

    # --- per-layer probes (traced passes only) ------------------------------

    def _time(self, name: str, fn) -> None:
        with self.run.tracer.span(name):
            t0 = time.perf_counter()
            fn()
            self.probe_times.setdefault(name, []).append(time.perf_counter() - t0)

    def probes(self, spark, mix: Mix, out: str) -> None:
        from pyspark.sql import functions as F

        from ssidentity_spark import parse
        from ssidentity_spark.functions.fspl import fspl_distance
        from ssidentity_spark.io import write_observations

        frames = _frames(spark, mix.drop)
        f = F.col("frame")
        accepted = frames.filter(parse.accept_predicate(f))
        prefix = "parse." if mix is self.probe else f"parse.{mix.name}."
        self._time(f"{prefix}accept_s", lambda: _noop(accepted))
        self._time(f"{prefix}extract_s", lambda: _noop(accepted.select(
            parse.client_mac(f), parse.sanitize_ssid(parse.ssid_raw(f)),
            parse.rssi(f), parse.frequency(f))))
        self._time(f"{prefix}observations_s", lambda: _noop(parse.parse_observations(frames)))
        self._time(f"{prefix}rejects_s", lambda: _noop(parse.parse_rejects(frames)))
        if mix is not self.probe:
            return  # fspl and the sink are probed on the probe-heavy mix
        cols = accepted.select(parse.rssi(f).alias("rssi"),
                               parse.frequency(f).alias("freq")).cache()
        obs = parse.parse_observations(frames).cache()
        sink = os.path.join(out, "sink-probe")
        try:
            cols.count()
            obs.count()
            self._time("functions.fspl_s", lambda: _noop(
                cols.select(fspl_distance(F.col("rssi"), F.col("freq")))))
            self._time("io.sink_s", lambda: write_observations(obs, sink))
        finally:
            cols.unpersist()
            obs.unpersist()
        files = [os.path.join(d, n) for d, _, ns in os.walk(sink) for n in ns
                 if n.endswith(".parquet")]
        self.sink_stats.append((len(files), sum(os.path.getsize(p) for p in files)))

    # --- one pass -----------------------------------------------------------

    def one_pass(self, spark, counters, listener, full_check=False):
        out = self.run.path(f"pass-{self.n_pass}")
        self.n_pass += 1
        traced = self.run.tracer.enabled
        if traced:
            spark.streams.addListener(listener)
        try:
            self.batch(spark, self.probe, out)
            ids = {"ingest": self.stream(spark, out), "alerts": self.alerts(spark, out)}
            self.batch(spark, self.reject, os.path.join(out, "reject"))
            if traced:
                counters.drain()
                for kind, qid in ids.items():
                    self.progress[kind].append(_progress_summary(listener.take(qid)))
                self.probes(spark, self.probe, out)
                self.probes(spark, self.reject, out)
        finally:
            if traced:
                spark.streams.removeListener(listener)
        self.check_batch(spark, self.probe, out, full_check)
        self.check_streams(spark, out, full_check)
        self.check_batch(spark, self.reject, os.path.join(out, "reject"), full_check)
        shutil.rmtree(out, ignore_errors=True)

    def per_layer(self, spark) -> dict[str, float]:
        probe, t = self.probe, self.probe.truth
        n = len(probe.fs)
        m = {name: statistics.median(v) for name, v in self.probe_times.items()}
        files, size = zip(*self.sink_stats)
        m["io.sink_files"] = statistics.median(files)
        m["io.sink_bytes_per_frame"] = statistics.median(size) / n
        m["parse.accepted_rows"] = t.accepted
        m["parse.rejected_rows"] = sum(t.reject_counts.values())
        m["parse.accept_ratio"] = t.accepted / n
        m["parse.reject_heavy.accept_ratio"] = self.reject.truth.accepted / len(self.reject.fs)
        for kind in ("ingest", "alerts"):
            for key in self.progress[kind][0]:
                m[f"streaming.{kind}.{key}"] = statistics.median(
                    p[key] for p in self.progress[kind])
        m["streaming.ingest.kept_ratio"] = t.distinct_observations / n
        m["streaming.alerts.output_rows"] = statistics.median(self.alert_rows)
        m["session.driver_peak_rss_mb"] = jvm_peak_rss_mb(spark)
        return m


def _rows(df) -> list[tuple]:
    """Observation rows as the tuples ``frames.expected_observation`` gives."""
    from pyspark.sql import functions as F

    cols = ["ts_ms", "sensor_id", "mac", "ssid", "rssi", "freq", "dist",
            "ssid_was_escaped"]
    return [tuple(r) for r in df.withColumn("ts_ms", F.unix_millis("ts"))
            .select(*cols).collect()]


def _progress_summary(progress: list) -> dict[str, float]:
    """One streaming query's micro-batches: count, median trigger time,
    summed phase durations, peak state rows and bytes, output rows."""
    if not progress:
        raise RuntimeError("no streaming progress was reported")

    def state(p, field):
        return sum(getattr(s, field) for s in p.stateOperators)

    out = {
        "batches": len(progress),
        "batch_ms_p50": statistics.median(
            p.durationMs.get("triggerExecution", 0) for p in progress),
        "state_rows": max(state(p, "numRowsTotal") for p in progress),
        "state_bytes": max(state(p, "memoryUsedBytes") for p in progress),
    }
    for key, phase in PHASES.items():
        out[key] = sum(p.durationMs.get(phase, 0) for p in progress)
    return out


def run(bench):
    w = Ingest(bench)
    spark, _ = bench.setup(w.build_inputs, w.warm)
    counters = SparkCounters(spark)
    listener = ProgressListener()
    w.one_pass(spark, counters, listener, full_check=True)
    bench.mark("warm-up")
    bench.op_times.clear()  # the warm-up pass is not a sample
    n = bench.timed_passes(lambda: w.one_pass(spark, counters, listener))
    if bench.traced_run:
        bench.per_layer.update(w.per_layer(spark))
    bench.detail["ingest"] = {
        "mixes": {m.name: m.spec.describe() for m in (w.probe, w.reject)},
        "passes": n,
        "frames_per_s": {op: len(w.probe.fs) / s for op, s in bench.op_medians().items()},
    }
    return spark
