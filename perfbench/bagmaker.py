"""Seeded mixed-topic rosbag 2.0 recordings for the benchmark.

The writer here is the benchmark's own, deliberately independent of
``rosbag2parquet_spark.sources.rosbag``: a change to the package cannot
change the bytes the benchmark feeds it. It writes what ``rosbag record``
writes: the 4 KB bag header record, lz4 chunks (LZ4 frame format through
pyarrow's ``lz4_frame`` codec) holding connection and message records, an
IndexData record per connection after each chunk, and the index region
(connection records, then one ChunkInfo per chunk).

Topics cover the three decode tiers of ``sources/decode.py``:

- fixed stride: ``geometry_msgs/Twist`` on ``/cmd_vel``;
- offset scan: ``sensor_msgs/Imu`` on two topics sharing the type, and
  ``sensor_msgs/CompressedImage`` whose payload bytes are distinct per
  message (a repeated blob would compress away inside an lz4 chunk);
- per row: ``tf2_msgs/TFMessage`` and ``sensor_msgs/JointState``.

Every float the generator writes is a multiple of 1/256 below 2**20, so
sums over a whole recording are exact in any order, and the expected
checksums in :class:`Recording` are plain integers and floats.
"""

from __future__ import annotations

import hashlib
import struct
from dataclasses import dataclass

import numpy as np

SEP = "=" * 80

HEADER_DEF = "uint32 seq\ntime stamp\nstring frame_id\n"
VECTOR3_DEF = "float64 x\nfloat64 y\nfloat64 z\n"
QUATERNION_DEF = "float64 x\nfloat64 y\nfloat64 z\nfloat64 w\n"


def _with_deps(root: str, *deps: tuple[str, str]) -> str:
    return root + "".join(f"{SEP}\nMSG: {name}\n{text}" for name, text in deps)


MSG_DEFS = {
    "geometry_msgs/Twist": _with_deps(
        "geometry_msgs/Vector3 linear\ngeometry_msgs/Vector3 angular\n",
        ("geometry_msgs/Vector3", VECTOR3_DEF),
    ),
    "sensor_msgs/Imu": _with_deps(
        "std_msgs/Header header\n"
        "geometry_msgs/Quaternion orientation\n"
        "float64[9] orientation_covariance\n"
        "geometry_msgs/Vector3 angular_velocity\n"
        "float64[9] angular_velocity_covariance\n"
        "geometry_msgs/Vector3 linear_acceleration\n"
        "float64[9] linear_acceleration_covariance\n",
        ("std_msgs/Header", HEADER_DEF),
        ("geometry_msgs/Quaternion", QUATERNION_DEF),
        ("geometry_msgs/Vector3", VECTOR3_DEF),
    ),
    "sensor_msgs/CompressedImage": _with_deps(
        "std_msgs/Header header\nstring format\nuint8[] data\n",
        ("std_msgs/Header", HEADER_DEF),
    ),
    "tf2_msgs/TFMessage": _with_deps(
        "geometry_msgs/TransformStamped[] transforms\n",
        (
            "geometry_msgs/TransformStamped",
            "std_msgs/Header header\nstring child_frame_id\n"
            "geometry_msgs/Transform transform\n",
        ),
        ("std_msgs/Header", HEADER_DEF),
        (
            "geometry_msgs/Transform",
            "geometry_msgs/Vector3 translation\n"
            "geometry_msgs/Quaternion rotation\n",
        ),
        ("geometry_msgs/Vector3", VECTOR3_DEF),
        ("geometry_msgs/Quaternion", QUATERNION_DEF),
    ),
    "sensor_msgs/JointState": _with_deps(
        "std_msgs/Header header\nstring[] name\nfloat64[] position\n"
        "float64[] velocity\nfloat64[] effort\n",
        ("std_msgs/Header", HEADER_DEF),
    ),
}


@dataclass(frozen=True)
class Topic:
    name: str
    datatype: str
    rate_hz: float
    frame_id: str


#: (topic, type, rate, frame) — rates of a small wheeled robot's recorder
TOPICS = (
    Topic("/cmd_vel", "geometry_msgs/Twist", 50.0, ""),
    Topic("/imu/front", "sensor_msgs/Imu", 200.0, "imu_front_link"),
    Topic("/imu/rear", "sensor_msgs/Imu", 200.0, "imu_rear_link"),
    Topic("/camera/image/compressed", "sensor_msgs/CompressedImage", 15.0, "camera_link"),
    Topic("/tf", "tf2_msgs/TFMessage", 50.0, "odom"),
    Topic("/joint_states", "sensor_msgs/JointState", 100.0, "base_link"),
)

JOINTS = ("wheel_fl", "wheel_fr", "wheel_rl", "wheel_rr", "steer_l", "steer_r", "lidar_spin")
TF_CHILDREN = ("base_link", "laser", "camera_link")

#: rosbag's default chunk threshold (uncompressed bytes per chunk)
CHUNK_THRESHOLD = 768 * 1024

BASE_SEC = 1_600_000_000

SAMPLES_PER_TYPE = 2_000

OP_MSG, OP_BAG_HEADER, OP_INDEX, OP_CHUNK, OP_CHUNK_INFO, OP_CONNECTION = 2, 3, 4, 5, 6, 7


def table_name(datatype: str) -> str:
    """Per-type table name the converter gives a datatype."""
    return datatype.replace("/", "_")


@dataclass
class Recording:
    """What the generator wrote, for checking the converter's output.

    Arrays are in bag order, so index ``i`` is the message whose ``seqno``
    must be ``i``."""

    path: str
    sha256: str
    nbytes: int
    topic_counts: dict[str, int]
    topic_bytes: dict[str, int]
    #: per-type table → {column: exact sum}, plus "rows"
    checksums: dict[str, dict[str, float]]
    time_ns: np.ndarray
    conn_id: np.ndarray
    size: np.ndarray
    #: float column per message (Imu angular_velocity_x, Twist linear_x, ...)
    #: used by the join and windowed-aggregate queries; NaN where absent
    probe: np.ndarray
    #: header.stamp.sec per message, -1 where the type has no header
    stamp_sec: np.ndarray
    #: the first payloads of each datatype, for decoder kernels run without Spark
    samples: dict[str, list[bytes]]

    @property
    def n_messages(self) -> int:
        return int(self.time_ns.shape[0])


def _u32(v: int) -> bytes:
    return struct.pack("<I", v)


def _string(s: str) -> bytes:
    b = s.encode()
    return _u32(len(b)) + b


def _header(seq: int, t_ns: int, frame: str) -> bytes:
    return struct.pack("<III", seq, t_ns // 1_000_000_000, t_ns % 1_000_000_000) + _string(frame)


def _record(fields: list[tuple[str, bytes]], data: bytes) -> bytes:
    header = b"".join(_u32(len(k) + 1 + len(v)) + k.encode() + b"=" + v for k, v in fields)
    return _u32(len(header)) + header + _u32(len(data)) + data


def _conn_record(conn: int, topic: Topic) -> bytes:
    text = MSG_DEFS[topic.datatype]
    inner = [
        ("topic", topic.name.encode()),
        ("type", topic.datatype.encode()),
        ("md5sum", hashlib.md5(text.encode()).hexdigest().encode()),
        ("message_definition", text.encode()),
        ("callerid", b"/perfbench_recorder"),
        ("latching", b"0"),
    ]
    data = b"".join(_u32(len(k) + 1 + len(v)) + k.encode() + b"=" + v for k, v in inner)
    return _record(
        [("op", bytes([OP_CONNECTION])), ("conn", _u32(conn)), ("topic", topic.name.encode())],
        data,
    )


def _time(t_ns: int) -> bytes:
    return struct.pack("<II", t_ns // 1_000_000_000, t_ns % 1_000_000_000)


class _Sums:
    """Running exact per-table column sums."""

    def __init__(self) -> None:
        self.by_table: dict[str, dict[str, float]] = {}

    def add(self, table: str, **cols: float) -> None:
        d = self.by_table.setdefault(table, {"rows": 0})
        d["rows"] += 1
        for k, v in cols.items():
            d[k] = d.get(k, 0) + v


def _fixed(rng: np.random.Generator, n: int) -> np.ndarray:
    """n floats that are exact multiples of 1/256 in (-4096, 4096)."""
    return rng.integers(-(1 << 20), 1 << 20, size=n).astype(np.float64) / 256.0


def record(
    path: str,
    seed: int,
    duration_s: float,
    image_bytes: int = 24_000,
) -> Recording:
    """Write a ``duration_s`` recording of :data:`TOPICS` to ``path``."""
    rng = np.random.default_rng(seed)
    start_ns = (BASE_SEC + int(rng.integers(0, 86_400))) * 1_000_000_000

    # message schedule: each topic ticks at its rate with up to 20% of a
    # period of jitter; bag order is receive-time order
    times, conns, ks = [], [], []
    for c, topic in enumerate(TOPICS):
        n = int(duration_s * topic.rate_hz)
        period = 1e9 / topic.rate_hz
        jitter = rng.uniform(0.0, 0.2 * period, size=n)
        t = start_ns + (np.arange(n) * period + jitter).astype(np.int64)
        times.append(t)
        conns.append(np.full(n, c, dtype=np.int32))
        ks.append(np.arange(n, dtype=np.int64))
    time_ns = np.concatenate(times)
    conn_id = np.concatenate(conns)
    seq_k = np.concatenate(ks)
    order = np.lexsort((seq_k, conn_id, time_ns))
    time_ns, conn_id, seq_k = time_ns[order], conn_id[order], seq_k[order]
    n_msgs = time_ns.shape[0]

    sums = _Sums()
    size = np.zeros(n_msgs, dtype=np.int64)
    probe = np.full(n_msgs, np.nan)
    stamp_sec = np.full(n_msgs, -1, dtype=np.int64)
    floats = _fixed(rng, n_msgs * 16).reshape(n_msgs, 16)

    def payload(i: int) -> bytes:
        topic = TOPICS[conn_id[i]]
        t = int(time_ns[i])
        seq = int(seq_k[i])
        f = floats[i]
        table = table_name(topic.datatype)
        if topic.datatype == "geometry_msgs/Twist":
            probe[i] = f[0]
            sums.add(table, linear_x=f[0], angular_z=f[5])
            return struct.pack("<6d", *f[:6])
        head = _header(seq, t, topic.frame_id)
        if topic.datatype != "tf2_msgs/TFMessage":
            stamp_sec[i] = t // 1_000_000_000
        if topic.datatype == "sensor_msgs/Imu":
            probe[i] = f[4]
            sums.add(
                table,
                header_seq=seq,
                header_stamp_sec=t // 1_000_000_000,
                header_stamp_nsec=t % 1_000_000_000,
                orientation_w=f[3],
                angular_velocity_x=f[4],
                linear_acceleration_z=f[9],
            )
            return (
                head
                + struct.pack("<4d", *f[:4])
                + struct.pack("<9d", *range(9))
                + struct.pack("<3d", *f[4:7])
                + struct.pack("<9d", *range(9))
                + struct.pack("<3d", *f[7:10])
                + struct.pack("<9d", *range(9))
            )
        if topic.datatype == "sensor_msgs/CompressedImage":
            n = image_bytes + int(rng.integers(0, image_bytes // 4))
            sums.add(table, header_seq=seq, header_stamp_sec=t // 1_000_000_000)
            return head + _string("jpeg") + _u32(n) + rng.bytes(n)
        if topic.datatype == "tf2_msgs/TFMessage":
            body = _u32(len(TF_CHILDREN))
            for j, child in enumerate(TF_CHILDREN):
                body += (
                    _header(seq, t, topic.frame_id)
                    + _string(child)
                    + struct.pack("<3d", *f[3 * j : 3 * j + 3])
                    + struct.pack("<4d", 0.0, 0.0, 0.0, 1.0)
                )
            sums.add(table)
            return body
        # sensor_msgs/JointState
        nj = len(JOINTS)
        body = head + _u32(nj) + b"".join(_string(j) for j in JOINTS)
        body += _u32(nj) + struct.pack(f"<{nj}d", *f[:nj])
        body += _u32(nj) + struct.pack(f"<{nj}d", *f[nj : 2 * nj])
        body += _u32(0)
        sums.add(table, header_seq=seq, header_stamp_sec=t // 1_000_000_000)
        return body

    samples: dict[str, list[bytes]] = {}
    topic_counts = {t.name: 0 for t in TOPICS}
    topic_bytes = {t.name: 0 for t in TOPICS}
    chunks: list[tuple[bytes, int, int, dict[int, list]]] = []
    inner = bytearray()
    index: dict[int, list] = {}
    seen: set[int] = set()
    chunk_start = None

    def flush() -> None:
        nonlocal inner, index, chunk_start
        if inner:
            chunks.append((bytes(inner), chunk_start, last_t, index))
        inner, index, chunk_start = bytearray(), {}, None

    last_t = 0
    for i in range(n_msgs):
        c = int(conn_id[i])
        t = int(time_ns[i])
        if c not in seen:
            inner += _conn_record(c, TOPICS[c])
            seen.add(c)
        data = payload(i)
        kept = samples.setdefault(TOPICS[c].datatype, [])
        if len(kept) < SAMPLES_PER_TYPE:
            kept.append(data)
        size[i] = len(data)
        topic_counts[TOPICS[c].name] += 1
        topic_bytes[TOPICS[c].name] += len(data)
        if chunk_start is None:
            chunk_start = t
        last_t = t
        index.setdefault(c, []).append((t, len(inner)))
        inner += _record([("op", bytes([OP_MSG])), ("conn", _u32(c)), ("time", _time(t))], data)
        if len(inner) >= CHUNK_THRESHOLD:
            flush()
    flush()

    import pyarrow as pa

    codec = pa.Codec("lz4_frame")
    digest = hashlib.sha256()
    with open(path, "wb") as f:

        def put(b: bytes) -> None:
            f.write(b)
            digest.update(b)

        magic = b"#ROSBAG V2.0\n"
        body = bytearray()
        chunk_pos = []
        base = len(magic) + 4096
        for raw, st, en, idx in chunks:
            chunk_pos.append(base + len(body))
            body += _record(
                [("op", bytes([OP_CHUNK])), ("compression", b"lz4"), ("size", _u32(len(raw)))],
                codec.compress(raw, asbytes=True),
            )
            for c in sorted(idx):
                entries = b"".join(_time(t) + _u32(off) for t, off in idx[c])
                body += _record(
                    [
                        ("op", bytes([OP_INDEX])),
                        ("ver", _u32(1)),
                        ("conn", _u32(c)),
                        ("count", _u32(len(idx[c]))),
                    ],
                    entries,
                )
        index_pos = base + len(body)
        for c, topic in enumerate(TOPICS):
            body += _conn_record(c, topic)
        for pos, (_raw, st, en, idx) in zip(chunk_pos, chunks):
            body += _record(
                [
                    ("op", bytes([OP_CHUNK_INFO])),
                    ("ver", _u32(1)),
                    ("chunk_pos", struct.pack("<Q", pos)),
                    ("start_time", _time(st)),
                    ("end_time", _time(en)),
                    ("count", _u32(len(idx))),
                ],
                b"".join(_u32(c) + _u32(len(idx[c])) for c in sorted(idx)),
            )
        head_fields = [
            ("op", bytes([OP_BAG_HEADER])),
            ("index_pos", struct.pack("<Q", index_pos)),
            ("conn_count", _u32(len(TOPICS))),
            ("chunk_count", _u32(len(chunks))),
        ]
        head_len = len(_record(head_fields, b""))
        put(magic)
        put(_record(head_fields, b" " * (4096 - head_len)))
        put(bytes(body))
        nbytes = len(magic) + 4096 + len(body)

    return Recording(
        path=path,
        sha256=digest.hexdigest(),
        nbytes=nbytes,
        topic_counts=topic_counts,
        topic_bytes=topic_bytes,
        checksums=sums.by_table,
        time_ns=time_ns,
        conn_id=conn_id,
        size=size,
        probe=probe,
        stamp_sec=stamp_sec,
        samples=samples,
    )
