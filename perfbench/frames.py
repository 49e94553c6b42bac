"""Seeded 802.11 probe-request frames with their ground truth.

The frames follow the byte layout ``ssidentity_spark.parse`` reads (the same
offsets ``fixtures.build_frame`` writes). They are built as one NumPy array,
and the expected parse result is computed independently in plain Python:
the MAC as ``%012X``, the SSID sanitized byte by byte, and the FSPL distance
by the formula of ``fixtures.fspl``.

Traffic dimensions (all recorded in ``FrameSpec``):

- a device population whose frame counts are Zipf-skewed;
- one defect per rejected frame, with a fixed share per reject reason;
- a share of accepted frames whose SSID carries a non-printable byte;
- a share of byte-identical duplicate rows (same frame, sensor and time);
- event time sorted, millisecond-unique per distinct frame, over about a day;
- five sensors;
- the number of drop-directory bundles, against ``maxFilesPerTrigger=8``.

The shares are not measured from real captures. ``PROBE_HEAVY`` is a
mostly-accepted mix; ``REJECT_HEAVY`` is a mix where, as on a monitor
interface that sees every frame, most frames are not broadcast probe
requests (beacons and other management subtypes, short control frames).
The workload parses both, so parse and sink costs are seen in either regime.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from dataclasses import asdict, dataclass, field

import numpy as np
import pyarrow as pa

# offsets from ssidentity.h, as in ssidentity_spark.parse
FREQ_OFFSET = 19
RSSI_OFFSET = 22
IP_PROTO_OFFSET = 23
FRAME_CTL_OFFSET = 26
MAC_ADDR_OFFSET = 36
DEST_ADDR_OFFSET = 42
SSID_LEN_OFFSET = 51
SSID_CHR_OFFSET = 52
FRAME_SIZE = 96  # fixtures.build_frame's default size

KNOWN_IP_PROTOCOLS = (1, 2, 6, 17)
FREQS = (2412, 2437, 2462, 2464, 5180, 5745)
SENSOR_IDS = ("s1", "s2", "s3", "s4", "s5")
# the reasons in parse_rejects' precedence order
REJECT_REASONS = (
    "truncated_frame",
    "not_probe_request",
    "not_broadcast_dest",
    "known_ip_protocol",
    "bad_ssid_len",
)
BASE_TS = dt.datetime(2016, 7, 21, tzinfo=dt.timezone.utc)


@dataclass(frozen=True)
class FrameSpec:
    """Input size and traffic dimensions of one generated frame set."""

    n_frames: int = 20_000
    n_devices: int = 300
    device_zipf: float = 1.1
    n_ssids: int = 400
    reject_share: dict = field(
        default_factory=lambda: {
            "truncated_frame": 0.01,
            "not_probe_request": 0.04,
            "not_broadcast_dest": 0.03,
            "known_ip_protocol": 0.03,
            "bad_ssid_len": 0.02,
        }
    )
    escaped_share: float = 0.05  # of accepted frames
    duplicate_share: float = 0.03  # of all rows
    span_hours: float = 24.0
    # drop-directory files; 8 are read per trigger, so 16 make two data
    # micro-batches, with state carried from one to the next
    n_bundles: int = 16

    def describe(self) -> dict:
        return asdict(self)


PROBE_HEAVY = FrameSpec()
REJECT_HEAVY = FrameSpec(
    reject_share={
        "truncated_frame": 0.25,
        "not_probe_request": 0.55,
        "not_broadcast_dest": 0.04,
        "known_ip_protocol": 0.03,
        "bad_ssid_len": 0.03,
    }
)


@dataclass
class FrameSet:
    """Generated frames (one row each, in event-time order) plus truth."""

    frame: list[bytes]
    sensor_id: list[str]
    recv_ms: np.ndarray  # epoch milliseconds, int64, non-decreasing
    accepted: np.ndarray  # bool per row
    reason: list[str | None]  # reject reason per row, None if accepted
    is_duplicate: np.ndarray  # bool: row repeats the previous row
    # the fields build_frame takes, per row, for cross-checking the layout
    fields: list[dict]

    def __len__(self) -> int:
        return len(self.frame)

    def arrow(self, lo: int = 0, hi: int | None = None) -> pa.Table:
        """RAW_FRAMES_SCHEMA rows [lo, hi) as an Arrow table."""
        sl = slice(lo, hi)
        frames = self.frame[sl]
        return pa.table(
            {
                "frame": pa.array(frames, pa.binary()),
                "sensor_id": pa.array(self.sensor_id[sl], pa.string()),
                "recv_ts": pa.array(
                    self.recv_ms[sl] * 1000, pa.timestamp("us", tz="UTC")
                ),
                "frame_len": pa.array([len(f) for f in frames], pa.int32()),
            }
        )


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _ssid_pool(rng: np.random.Generator, n: int) -> list[bytes]:
    """Printable SSIDs of 1 to 32 bytes."""
    stems = (b"NET", b"Cafe", b"HOME", b"Guest", b"OPTUS", b"FOSTER WIFI", b"x")
    pool = []
    for i in range(n):
        stem = stems[int(rng.integers(0, len(stems)))]
        tail = rng.integers(0x20, 0x7F, size=int(rng.integers(0, 20)), dtype=np.uint8)
        pool.append((stem + b"_" + str(i).encode() + tail.tobytes())[:32])
    return pool


def generate(seed: int, spec: FrameSpec = FrameSpec()) -> FrameSet:
    """Deterministic frames for ``seed``: the same seed, the same bytes."""
    rng = np.random.default_rng(seed)
    n_dup = int(round(spec.n_frames * spec.duplicate_share))
    m = spec.n_frames - n_dup  # distinct rows

    # --- per distinct row: kind (0 = accepted, 1.. = reject reason) ---
    shares = [spec.reject_share[r] for r in REJECT_REASONS]
    kind = rng.choice(
        len(REJECT_REASONS) + 1, size=m, p=[1.0 - sum(shares), *shares]
    )
    accepted = kind == 0

    macs = rng.integers(0, 256, size=(spec.n_devices, 6), dtype=np.uint8)
    macs[:, 0] &= 0xFE  # unicast
    device = rng.choice(spec.n_devices, size=m, p=_zipf_probs(spec.n_devices, spec.device_zipf))
    pool = _ssid_pool(rng, spec.n_ssids)
    # each device probes for a few known networks
    dev_ssids = rng.choice(
        spec.n_ssids, size=(spec.n_devices, 3), p=_zipf_probs(spec.n_ssids, 0.8)
    )
    ssid_idx = dev_ssids[device, rng.integers(0, 3, size=m)]
    rssi = rng.integers(-95, -29, size=m)
    freq = np.asarray(FREQS)[rng.integers(0, len(FREQS), size=m)]
    sensor = rng.integers(0, len(SENSOR_IDS), size=m)
    allowed_protos = np.setdiff1d(np.arange(256), KNOWN_IP_PROTOCOLS)
    ip_proto = allowed_protos[rng.integers(0, len(allowed_protos), size=m)]
    subtype = np.full(m, 4)
    dest = np.full((m, 6), 0xFF, dtype=np.uint8)

    r = {name: kind == i + 1 for i, name in enumerate(REJECT_REASONS)}
    bad_sub = np.array([0, 5, 8, 11, 12])
    subtype[r["not_probe_request"]] = bad_sub[
        rng.integers(0, len(bad_sub), size=int(r["not_probe_request"].sum()))
    ]
    nd = int(r["not_broadcast_dest"].sum())
    bad_dest = rng.integers(0, 256, size=(nd, 6), dtype=np.uint8)
    bad_dest[:, 5] = rng.integers(0, 255, size=nd)  # never all 0xFF
    dest[r["not_broadcast_dest"]] = bad_dest
    ip_proto[r["known_ip_protocol"]] = np.asarray(KNOWN_IP_PROTOCOLS)[
        rng.integers(0, 4, size=int(r["known_ip_protocol"].sum()))
    ]

    ssids = [pool[i] for i in ssid_idx]
    esc = accepted & (rng.random(m) < spec.escaped_share)
    for i in np.flatnonzero(esc):
        s = bytearray(ssids[i])
        s[int(rng.integers(0, len(s)))] = int(
            rng.choice([0x00, 0x01, 0x09, 0x1F, 0x7F, 0x80, 0xC3, 0xFF])
        )
        ssids[i] = bytes(s)

    # --- lay out the bytes: random filler, then the fields ---
    buf = rng.integers(0, 256, size=(m, FRAME_SIZE), dtype=np.uint8)
    filler = buf.copy()
    buf[:, FREQ_OFFSET] = (freq >> 8) & 0xFF
    buf[:, FREQ_OFFSET + 1] = freq & 0xFF
    buf[:, RSSI_OFFSET] = (rssi + 0xFF) & 0xFF
    buf[:, IP_PROTO_OFFSET] = ip_proto
    buf[:, FRAME_CTL_OFFSET] = (subtype << 4) & 0xF0
    buf[:, MAC_ADDR_OFFSET : MAC_ADDR_OFFSET + 6] = macs[device]
    buf[:, DEST_ADDR_OFFSET : DEST_ADDR_OFFSET + 6] = dest
    slen = np.array([len(s) for s in ssids])
    bad_len = r["bad_ssid_len"]
    slen_field = slen.copy()
    # 0 or 33..40: both outside 1..32 and still inside the frame
    slen_field[bad_len] = np.where(
        rng.random(int(bad_len.sum())) < 0.5,
        0,
        rng.integers(33, 41, size=int(bad_len.sum())),
    )
    buf[:, SSID_LEN_OFFSET] = slen_field
    ssid_mat = np.zeros((m, 32), dtype=np.uint8)
    for i, s in enumerate(ssids):
        ssid_mat[i, : len(s)] = np.frombuffer(s, dtype=np.uint8)
    written = (np.arange(32) < slen[:, None]) & ~bad_len[:, None]
    region = buf[:, SSID_CHR_OFFSET : SSID_CHR_OFFSET + 32]
    buf[:, SSID_CHR_OFFSET : SSID_CHR_OFFSET + 32] = np.where(written, ssid_mat, region)
    trunc_len = rng.integers(20, SSID_LEN_OFFSET + 1, size=m)

    frames, fields = [], []
    for i in range(m):
        row = buf[i].tobytes()
        if r["truncated_frame"][i]:
            row = row[: int(trunc_len[i])]
        frames.append(row)
        ln = int(slen_field[i])
        fields.append(
            {
                "mac": macs[device[i]].tobytes(),
                "ssid": ssids[i] if not bad_len[i] else row[SSID_CHR_OFFSET : SSID_CHR_OFFSET + ln],
                "rssi": int(rssi[i]),
                "freq": int(freq[i]),
                "subtype": int(subtype[i]),
                "dest": dest[i].tobytes(),
                "ip_proto": int(ip_proto[i]),
                "ssid_len": ln,
                "truncate_to": int(trunc_len[i]) if r["truncated_frame"][i] else None,
                "filler": filler[i].tobytes(),
            }
        )

    # --- event time: sorted, ms-unique per distinct row, about a day ---
    mean_gap = spec.span_hours * 3_600_000 / m
    gaps = rng.integers(1, max(2, int(2 * mean_gap)), size=m)
    ms = int(BASE_TS.timestamp() * 1000) + np.cumsum(gaps)

    # --- byte-identical duplicates: repeat a row right after itself ---
    reps = np.ones(m, dtype=np.int64)
    reps[rng.choice(m, size=n_dup, replace=False)] += 1
    order = np.repeat(np.arange(m), reps)
    is_dup = np.zeros(len(order), dtype=bool)
    is_dup[1:] = order[1:] == order[:-1]
    reasons = [None if k == 0 else REJECT_REASONS[k - 1] for k in kind]
    return FrameSet(
        frame=[frames[j] for j in order],
        sensor_id=[SENSOR_IDS[sensor[j]] for j in order],
        recv_ms=ms[order],
        accepted=accepted[order],
        reason=[reasons[j] for j in order],
        is_duplicate=is_dup,
        fields=[fields[j] for j in order],
    )


# --- ground truth, in plain Python -----------------------------------------


def fspl(rssi: int, freq: int) -> float:
    """FSPL distance in meters, rounded to 2 dp (fixtures.fspl's formula)."""
    return round(10 ** ((27.55 - rssi - 20 * math.log10(freq)) / 20), 2)


def sanitize(raw: bytes) -> str:
    return "".join(chr(b) if 0x20 <= b <= 0x7E else f"\\x{b:02X}" for b in raw)


def expected_observation(fields: dict, recv_ms: int, sensor_id: str) -> tuple:
    """(ts_ms, sensor_id, mac, ssid, rssi, freq, dist, escaped) of one
    accepted frame."""
    ssid = fields["ssid"]
    return (
        int(recv_ms),
        sensor_id,
        fields["mac"].hex().upper(),
        sanitize(ssid),
        fields["rssi"],
        fields["freq"],
        fspl(fields["rssi"], fields["freq"]),
        any(not 0x20 <= b <= 0x7E for b in ssid),
    )


@dataclass
class Truth:
    observations: list[tuple]  # one per accepted row, duplicates included
    reject_counts: dict[str, int]
    distinct_observations: int

    @property
    def accepted(self) -> int:
        return len(self.observations)


def truth(fs: FrameSet) -> Truth:
    obs = [
        expected_observation(fs.fields[i], fs.recv_ms[i], fs.sensor_id[i])
        for i in range(len(fs))
        if fs.accepted[i]
    ]
    counts = {r: 0 for r in REJECT_REASONS}
    for reason in fs.reason:
        if reason is not None:
            counts[reason] += 1
    return Truth(obs, counts, len(set(obs)))


def canon(row: tuple) -> str:
    """One observation as text: floats by repr, so equal doubles match."""
    return "|".join(repr(v) if isinstance(v, float) else str(v) for v in row)


def multiset_digest(rows) -> str:
    """Order-insensitive digest of a collection of observation tuples."""
    return hashlib.sha256("\n".join(sorted(canon(r) for r in rows)).encode()).hexdigest()


def expected_alerts(observations: list[tuple], gap_ms: int):
    """Pure-Python fold of the presence state machine over the observations
    (streaming.alerts' semantics). Returns (alerts, final_departures): the
    alerts every run must emit, and the departures that fire only once the
    watermark passes the device's last sighting plus ``gap_ms``."""
    by_mac: dict[str, list[tuple[int, str]]] = {}
    for ts_ms, sensor, mac, *_ in observations:
        by_mac.setdefault(mac, []).append((ts_ms, sensor))
    alerts, finals = [], []
    for mac, sightings in by_mac.items():
        sightings.sort(key=lambda s: s[0])
        last, last_sensor = None, None
        for t, sensor in sightings:
            if last is None:
                alerts.append((mac, "arrival", t, sensor))
            elif t <= last:
                continue  # a duplicate of the last sighting
            elif t - last > gap_ms:
                alerts.append((mac, "departure", last + gap_ms, last_sensor))
                alerts.append((mac, "arrival", t, sensor))
            last, last_sensor = t, sensor
        finals.append((mac, "departure", last + gap_ms, last_sensor))
    return alerts, finals
