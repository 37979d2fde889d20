"""Fluent Forward protocol (msgpack) event decoder.

Reference: receiver/fluentforwardreceiver/conversion.go —
  - MessageEventLogRecord.DecodeMsg (:191-230): ``[tag, time, record]``
    (+ optional options map, array len 3..4);
  - ForwardEventLogRecords.DecodeMsg (:296-330): ``[tag, [[time, record],
    ...]]`` (+ optional options, array len 2..3);
  - PackedForwardEventLogRecords: ``[tag, bin-of-concatenated-entries]``
    with optional ``compressed: "gzip"`` option (CompressedPackedForward);
  - record keys ``message``/``log`` become the body ("fluentd uses
    message, fluentbit log", conversion.go:161), everything else an
    attribute via insertToAttributeMap (:84-110: bool/int/uint/bytes/
    str/float direct, maps+arrays JSON-encoded);
  - timestamps are int64 unix seconds or the EventTime msgpack ext
    (type 0, 8 bytes: big-endian u32 seconds + u32 nanos — timeext.go:39-53).

The wire format is binary msgpack — there is no vectorized expression for
a variable-length self-describing framing, so decode is a per-event pure-
Python loop inside an Arrow-batched pandas UDF: transfer and scheduling
are columnar, the codec itself is the per-row cost. One event decodes to potentially many log
rows (Forward/PackedForward), returned as an array column and exploded
JVM-side so the fan-out itself stays columnar.

The msgpack subset implemented is exactly what the Forward spec emits:
nil/bool/int/uint all widths, float32/64, str/bin all widths, array/map
all widths, fixext8+ext8 EventTime. Malformed events yield a single row
with valid=false (the receiver's refused-connection analogue).
"""

from __future__ import annotations

import gzip
import json
import struct

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


class _Unpacker:
    __slots__ = ("b", "i")

    def __init__(self, b: bytes):
        self.b = b
        self.i = 0

    def _take(self, n: int) -> bytes:
        if self.i + n > len(self.b):
            raise ValueError("truncated msgpack")
        out = self.b[self.i : self.i + n]
        self.i += n
        return out

    def more(self) -> bool:
        return self.i < len(self.b)

    def unpack(self):
        (c,) = self._take(1)
        if c <= 0x7F:  # positive fixint
            return c
        if c >= 0xE0:  # negative fixint
            return c - 0x100
        if 0x80 <= c <= 0x8F:  # fixmap
            return self._map(c & 0x0F)
        if 0x90 <= c <= 0x9F:  # fixarray
            return [self.unpack() for _ in range(c & 0x0F)]
        if 0xA0 <= c <= 0xBF:  # fixstr
            return self._take(c & 0x1F).decode("utf-8", "replace")
        if c == 0xC0:
            return None
        if c == 0xC2:
            return False
        if c == 0xC3:
            return True
        if c == 0xC4:  # bin8
            return bytes(self._take(self._take(1)[0]))
        if c == 0xC5:  # bin16
            return bytes(self._take(struct.unpack(">H", self._take(2))[0]))
        if c == 0xC6:  # bin32
            return bytes(self._take(struct.unpack(">I", self._take(4))[0]))
        if c == 0xC7:  # ext8
            n = self._take(1)[0]
            typ = struct.unpack("b", self._take(1))[0]
            return ("__ext__", typ, bytes(self._take(n)))
        if c == 0xCA:
            return struct.unpack(">f", self._take(4))[0]
        if c == 0xCB:
            return struct.unpack(">d", self._take(8))[0]
        if c == 0xCC:
            return self._take(1)[0]
        if c == 0xCD:
            return struct.unpack(">H", self._take(2))[0]
        if c == 0xCE:
            return struct.unpack(">I", self._take(4))[0]
        if c == 0xCF:
            return struct.unpack(">Q", self._take(8))[0]
        if c == 0xD0:
            return struct.unpack("b", self._take(1))[0]
        if c == 0xD1:
            return struct.unpack(">h", self._take(2))[0]
        if c == 0xD2:
            return struct.unpack(">i", self._take(4))[0]
        if c == 0xD3:
            return struct.unpack(">q", self._take(8))[0]
        if c == 0xD7:  # fixext8 (EventTime lives here or in ext8)
            typ = struct.unpack("b", self._take(1))[0]
            return ("__ext__", typ, bytes(self._take(8)))
        if c == 0xD9:  # str8
            return self._take(self._take(1)[0]).decode("utf-8", "replace")
        if c == 0xDA:  # str16
            return self._take(struct.unpack(">H", self._take(2))[0]).decode(
                "utf-8", "replace"
            )
        if c == 0xDB:  # str32
            return self._take(struct.unpack(">I", self._take(4))[0]).decode(
                "utf-8", "replace"
            )
        if c == 0xDC:  # array16
            return [
                self.unpack()
                for _ in range(struct.unpack(">H", self._take(2))[0])
            ]
        if c == 0xDD:  # array32
            return [
                self.unpack()
                for _ in range(struct.unpack(">I", self._take(4))[0])
            ]
        if c == 0xDE:  # map16
            return self._map(struct.unpack(">H", self._take(2))[0])
        if c == 0xDF:  # map32
            return self._map(struct.unpack(">I", self._take(4))[0])
        raise ValueError(f"unsupported msgpack byte 0x{c:02x}")

    def _map(self, n: int) -> dict:
        out = {}
        for _ in range(n):
            k = self.unpack()
            if isinstance(k, bytes):  # binary map keys happen (conversion.go:152)
                k = k.decode("utf-8", "replace")
            out[k] = self.unpack()
        return out


def _ts_seconds(v) -> float:
    """timeFromTimestamp (conversion.go:112-121) + EventTime ext."""
    if isinstance(v, int):
        return float(v)
    if isinstance(v, tuple) and v[0] == "__ext__" and v[1] == 0 and len(v[2]) == 8:
        secs, nanos = struct.unpack(">II", v[2])
        return secs + nanos / 1e9
    raise ValueError(f"unknown timestamp {v!r}")


def _attr_str(v) -> str:
    """insertToAttributeMap flattened to the string attribute plane."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, (dict, list)):
        return json.dumps(v, separators=(",", ":"), sort_keys=True)
    return str(v)


def _entry_rows(tag: str, time_v, record) -> list[dict]:
    if not isinstance(record, dict):
        raise ValueError("record is not a map")
    body = None
    attrs = {"fluent.tag": tag}
    for k, v in record.items():
        if k in ("message", "log"):  # conversion.go:161
            if isinstance(v, bytes):
                v = v.decode("utf-8", "replace")
            if not isinstance(v, str):
                raise ValueError("body not a string")
            body = v
        else:
            attrs[str(k)] = _attr_str(v)
    return [
        {
            "tag": tag,
            "ts_us": int(_ts_seconds(time_v) * 1_000_000),
            "body": body,
            "attrs": attrs,
            "valid": True,
        }
    ]


def _decode_event(blob) -> list[dict]:
    bad = [{"tag": None, "ts_us": None, "body": None, "attrs": None, "valid": False}]
    if blob is None:
        return bad
    try:
        up = _Unpacker(bytes(blob))
        ev = up.unpack()
        if not isinstance(ev, list) or not (2 <= len(ev) <= 4):
            return bad
        tag = ev[0]
        if not isinstance(tag, str):
            return bad
        second = ev[1]
        rows: list[dict] = []
        if isinstance(second, list):  # ForwardMode
            for entry in second:
                rows.extend(_entry_rows(tag, entry[0], entry[1]))
        elif isinstance(second, bytes):  # PackedForwardMode
            options = ev[2] if len(ev) > 2 and isinstance(ev[2], dict) else {}
            raw = second
            if options.get("compressed") == "gzip":
                raw = gzip.decompress(raw)
            inner = _Unpacker(raw)
            while inner.more():
                entry = inner.unpack()
                rows.extend(_entry_rows(tag, entry[0], entry[1]))
        else:  # MessageMode: [tag, time, record, options?]
            if len(ev) < 3:
                return bad
            rows = _entry_rows(tag, second, ev[2])
        return rows or bad
    except Exception:
        return bad


_ROWS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("tag", T.StringType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("body", T.StringType()),
            T.StructField("attrs", T.MapType(T.StringType(), T.StringType())),
            T.StructField("valid", T.BooleanType()),
        ]
    )
)


@pandas_udf(_ROWS_TYPE)
def _decode_series(blobs: pd.Series) -> pd.Series:
    return blobs.map(_decode_event)


def decode_fluentforward(df: DataFrame, msg_col: str = "event") -> DataFrame:
    """One msgpack Forward-protocol event per input row -> exploded log
    rows (tag, ts TIMESTAMP, body, attrs MAP incl. fluent.tag, valid).
    Malformed events produce one valid=false row (refused analogue)."""
    rows = df.select(F.explode(_decode_series(F.col(msg_col))).alias("r"))
    return rows.select(
        F.col("r.tag").alias("tag"),
        F.timestamp_micros(F.col("r.ts_us")).alias("ts"),
        F.col("r.body").alias("body"),
        F.col("r.attrs").alias("attrs"),
        F.col("r.valid").alias("valid"),
    )


# ---------------------------------------------------------------------------
# Encoder (test/roundtrip harness — the reference ships no fluent exporter;
# this exists so synthetic tables can be framed on the wire and decoded
# back, proving the decoder against an independent oracle)
# ---------------------------------------------------------------------------


def _pack(v) -> bytes:
    if v is None:
        return b"\xc0"
    if isinstance(v, bool):
        return b"\xc3" if v else b"\xc2"
    if isinstance(v, int):
        if 0 <= v <= 0x7F:
            return bytes([v])
        if -32 <= v < 0:
            return struct.pack("b", v)
        return b"\xd3" + struct.pack(">q", v)
    if isinstance(v, float):
        return b"\xcb" + struct.pack(">d", v)
    if isinstance(v, str):
        raw = v.encode("utf-8")
        if len(raw) <= 31:
            return bytes([0xA0 | len(raw)]) + raw
        return b"\xda" + struct.pack(">H", len(raw)) + raw
    if isinstance(v, bytes):
        return b"\xc6" + struct.pack(">I", len(v)) + v
    if isinstance(v, list):
        head = (
            bytes([0x90 | len(v)])
            if len(v) <= 15
            else b"\xdc" + struct.pack(">H", len(v))
        )
        return head + b"".join(_pack(x) for x in v)
    if isinstance(v, dict):
        head = (
            bytes([0x80 | len(v)])
            if len(v) <= 15
            else b"\xde" + struct.pack(">H", len(v))
        )
        return head + b"".join(_pack(k) + _pack(x) for k, x in v.items())
    raise TypeError(type(v))


def pack_event_time(secs: int, nanos: int = 0) -> bytes:
    """EventTime fixext8 (timeext.go:39-44)."""
    return b"\xd7\x00" + struct.pack(">II", secs, nanos)


def encode_message_event(tag: str, ts, record: dict) -> bytes:
    """MessageMode frame; ts is int seconds or pre-packed EventTime bytes."""
    t = ts if isinstance(ts, bytes) else _pack(ts)
    return (
        bytes([0x93]) + _pack(tag) + t + _pack(record)
    )


def encode_forward_event(tag: str, entries: list) -> bytes:
    """ForwardMode frame; entries = [(ts, record), ...]."""
    body = b"".join(bytes([0x92]) + _pack(t) + _pack(r) for t, r in entries)
    head = (
        bytes([0x90 | len(entries)])
        if len(entries) <= 15
        else b"\xdc" + struct.pack(">H", len(entries))
    )
    return bytes([0x92]) + _pack(tag) + head + body


def encode_packed_forward_event(
    tag: str, entries: list, compress: bool = False
) -> bytes:
    blob = b"".join(bytes([0x92]) + _pack(t) + _pack(r) for t, r in entries)
    opts: dict = {}
    if compress:
        blob = gzip.compress(blob, mtime=0)
        opts["compressed"] = "gzip"
    return (
        bytes([0x93])
        + _pack(tag)
        + b"\xc6"
        + struct.pack(">I", len(blob))
        + blob
        + _pack(opts)
    )
