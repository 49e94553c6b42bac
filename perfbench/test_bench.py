"""Checks of the benchmark itself: the frame generator against the engine's
own fixtures and parser, span arithmetic, and BENCHMARK.json against the
harness's end-to-end metrics and workloads. Run from the repository root:

    python3 -m pytest perfbench/test_bench.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import frames  # noqa: E402
from ssidentity_spark import fixtures  # noqa: E402

SAMPLE_SEED = 7
SAMPLE = frames.FrameSpec(n_frames=3_000, n_devices=200, n_bundles=4)
REJECT_SAMPLE = frames.FrameSpec(
    n_frames=3_000, n_devices=200, n_bundles=4,
    reject_share=frames.REJECT_HEAVY.reject_share,
)


class _Filler:
    """Stands in for build_frame's rng: hands back a fixed filler row."""

    def __init__(self, row: bytes):
        self.row = np.frombuffer(row, dtype=np.uint8)

    def integers(self, low, high, size, dtype):
        assert (low, high, size) == (0, 256, len(self.row))
        return self.row.astype(dtype)


@pytest.fixture(scope="module")
def sample():
    return frames.generate(SAMPLE_SEED, SAMPLE)


def test_same_seed_same_frames(sample):
    again = frames.generate(SAMPLE_SEED, SAMPLE)
    assert again.frame == sample.frame
    assert again.recv_ms.tolist() == sample.recv_ms.tolist()
    assert frames.generate(SAMPLE_SEED + 1, SAMPLE).frame != sample.frame


def test_frames_match_fixture_builder(sample):
    for frame, f in zip(sample.frame, sample.fields):
        built = fixtures.build_frame(
            mac=f["mac"],
            ssid=f["ssid"],
            rssi=f["rssi"],
            freq=f["freq"],
            subtype=f["subtype"],
            dest=f["dest"],
            ip_proto=f["ip_proto"],
            ssid_len=f["ssid_len"],
            size=frames.FRAME_SIZE,
            rng=_Filler(f["filler"]),
        )
        if f["truncate_to"] is not None:
            built = built[: f["truncate_to"]]
        assert built == frame


def test_sample_covers_every_dimension(sample):
    t = frames.truth(sample)
    assert all(n > 0 for n in t.reject_counts.values())
    assert any(o[-1] for o in t.observations)  # escaped SSIDs
    assert sample.is_duplicate.any()
    assert t.distinct_observations < t.accepted
    assert len(set(sample.sensor_id)) == len(frames.SENSOR_IDS)
    assert np.all(np.diff(sample.recv_ms) >= 0)


def test_fspl_matches_fixture_formula():
    for rssi in range(-95, -29):
        for freq in frames.FREQS:
            assert frames.fspl(rssi, freq) == fixtures.fspl(rssi, freq)


@pytest.fixture(scope="module")
def spark():
    from ssidentity_spark.session import get_spark

    s = get_spark("perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.mark.parametrize("spec", [SAMPLE, REJECT_SAMPLE], ids=["probe_heavy", "reject_heavy"])
def test_sample_parses_to_ground_truth(spark, spec):
    from pyspark.sql import functions as F

    from ssidentity_spark.parse import parse_observations, parse_rejects
    from ssidentity_spark.schemas import RAW_FRAMES_SCHEMA

    sample = frames.generate(SAMPLE_SEED, spec)
    df = spark.createDataFrame(sample.arrow().to_pandas(), RAW_FRAMES_SCHEMA)
    t = frames.truth(sample)
    got = [
        (
            r.ts_ms,
            r.sensor_id,
            r.mac,
            r.ssid,
            r.rssi,
            r.freq,
            r.dist,
            r.ssid_was_escaped,
        )
        for r in parse_observations(df)
        .withColumn("ts_ms", F.unix_millis("ts"))
        .drop("ts", "ts_str")
        .collect()
    ]
    assert frames.multiset_digest(got) == frames.multiset_digest(t.observations)
    reasons = {
        r.reject_reason: r["count"]
        for r in parse_rejects(df).groupBy("reject_reason").count().collect()
    }
    assert reasons == {k: v for k, v in t.reject_counts.items() if v}


def test_union_length_merges_overlaps_and_clips():
    from spans import union_length

    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(-1, 2), (8, 12)], 0, 10) == 4
    assert union_length([], 0, 10) == 0


def test_self_time_excludes_children():
    from spans import Tracer

    t = Tracer(enabled=True)
    t.spans = [
        {"id": 0, "name": "q", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "job", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "job", "parent": 0, "start": 3.0, "end": 6.0},
    ]
    assert t.self_times() == {"q": 5.0, "job": 6.0}


def test_benchmark_json_matches_harness():
    import run

    spec = run.benchmark_spec()
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.workload_runners())
