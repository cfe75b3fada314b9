"""Delta Lake deletion-vector codec (pure Python, public spec).

The reference engine reads modern Delta tables — where row-level
deletes ship as DELETION VECTORS by default — natively
(pg_lake_engine/src/pgduck/read_data.c:286,
docs/file-formats-reference.md:33-37). This module implements the
public serialization (delta-io/delta PROTOCOL.md, "Deletion Vectors" +
"Deletion Vector Descriptor Schema" + RoaringBitmapArray portable
format; container layout per the RoaringFormatSpec) so the offline
``_delta_log`` reader (tables/delta_log.py) can apply them without the
delta-spark jars, exactly like avro_codec.py does for Iceberg
manifests:

- **Descriptor** (the ``deletionVector`` struct on an ``add``):
  ``storageType`` ``"i"`` (inline), ``"u"`` (UUID-named sidecar file
  relative to the table root), or ``"p"`` (absolute path);
  ``pathOrInlineDv`` holds Z85-encoded bitmap bytes (``i``) or
  ``<optional prefix><20-char Z85 uuid>`` (``u``); ``offset`` locates
  the blob inside a shared sidecar file; ``sizeInBytes`` is the blob
  length (checksum excluded); ``cardinality`` the number of set bits.
- **Sidecar file**: 1 version byte (= 1), then per stored DV:
  ``int32 BE size | <size bytes of bitmap> | int32 BE CRC-32`` — a
  descriptor's ``offset`` points at the size word. One sidecar can
  hold the DVs of MANY data files (the writer here packs one file per
  commit).
- **Bitmap blob**: "portable" RoaringBitmapArray — ``int32 LE magic
  1681511377 | int64 LE n_bitmaps |`` then per 32-bit bucket
  ``int32 LE key | standard 32-bit roaring bitmap`` (cookie 12346/7,
  array / bitset / run containers).

Everything is numpy-vectorized per container; no per-row Python in
any hot path. Decode is one call per DV blob, made where delta_log.py
runs the tombstone join: on the driver when the tombstones are
broadcast, executor-side from ``mapInPandas`` when they are not.
"""

from __future__ import annotations

import os
import struct
import uuid
import zlib

import numpy as np

Z85_ALPHABET = (
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    ".-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_DEC = {c: i for i, c in enumerate(Z85_ALPHABET)}

MAGIC_PORTABLE = 1681511377
_COOKIE_NO_RUN = 12346
_COOKIE_RUN = 12347
_NO_OFFSET_THRESHOLD = 4
_ARRAY_MAX = 4096
DV_FILE_VERSION = 1


# ---------------------------------------------------------------------------
# Z85 (ZeroMQ base85) — the variant PROTOCOL.md names for DV encoding.
# Arbitrary lengths are zero-padded to a 4-byte boundary on encode;
# decode truncates back to the caller's expected byte length.
# ---------------------------------------------------------------------------


def z85_encode(data: bytes) -> str:
    pad = (-len(data)) % 4
    data = data + b"\x00" * pad
    out = []
    for i in range(0, len(data), 4):
        v = int.from_bytes(data[i : i + 4], "big")
        chunk = []
        for _ in range(5):
            v, r = divmod(v, 85)
            chunk.append(Z85_ALPHABET[r])
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(text: str, length: int | None = None) -> bytes:
    if len(text) % 5:
        raise ValueError(f"Z85 input length {len(text)} is not a multiple of 5")
    out = bytearray()
    for i in range(0, len(text), 5):
        v = 0
        for ch in text[i : i + 5]:
            v = v * 85 + _Z85_DEC[ch]
        out += v.to_bytes(4, "big")
    return bytes(out if length is None else out[:length])


# ---------------------------------------------------------------------------
# 32-bit roaring bitmap (one bucket of the array)
# ---------------------------------------------------------------------------


def _serialize_roaring32(values: np.ndarray) -> bytes:
    """Serialize a sorted uint32 array as a standard roaring bitmap
    (cookie 12346 — no run containers; array/bitset containers only,
    which every reader accepts)."""
    keys = (values >> 16).astype(np.uint32)
    uniq, starts = np.unique(keys, return_index=True)
    bounds = list(starts) + [len(values)]
    n = len(uniq)
    head = struct.pack("<ii", _COOKIE_NO_RUN, n)
    desc = bytearray()
    blobs: list[bytes] = []
    for i, k in enumerate(uniq):
        lows = (values[bounds[i] : bounds[i + 1]] & 0xFFFF).astype(np.uint16)
        card = len(lows)
        desc += struct.pack("<HH", int(k), card - 1)
        if card <= _ARRAY_MAX:
            blobs.append(lows.astype("<u2").tobytes())
        else:
            bits = np.zeros(65536, dtype=bool)
            bits[lows] = True
            blobs.append(np.packbits(bits, bitorder="little").tobytes())
    # offset section: absolute byte positions of each container
    base = len(head) + len(desc) + 4 * n
    offs = bytearray()
    pos = base
    for b in blobs:
        offs += struct.pack("<I", pos)
        pos += len(b)
    return head + bytes(desc) + bytes(offs) + b"".join(blobs)


def _parse_roaring32(buf: bytes, pos: int) -> tuple[np.ndarray, int]:
    """Parse one standard 32-bit roaring bitmap at ``pos``; returns
    (sorted uint32 values, next position). Handles both cookies and
    all three container types."""
    (cookie,) = struct.unpack_from("<I", buf, pos)
    run_flags = None
    if (cookie & 0xFFFF) == _COOKIE_RUN:
        n = (cookie >> 16) + 1
        pos += 4
        nbytes = (n + 7) // 8
        run_flags = np.unpackbits(
            np.frombuffer(buf, np.uint8, nbytes, pos), bitorder="little"
        )[:n]
        pos += nbytes
    elif cookie == _COOKIE_NO_RUN:
        (n,) = struct.unpack_from("<i", buf, pos + 4)
        pos += 8
    else:
        raise ValueError(f"bad roaring cookie {cookie & 0xFFFF}")
    keys = np.empty(n, np.uint32)
    cards = np.empty(n, np.int64)
    for i in range(n):
        k, c = struct.unpack_from("<HH", buf, pos)
        keys[i], cards[i] = k, c + 1
        pos += 4
    if cookie == _COOKIE_NO_RUN or n >= _NO_OFFSET_THRESHOLD:
        pos += 4 * n  # offset section (we read sequentially)
    parts = []
    for i in range(n):
        is_run = run_flags is not None and run_flags[i]
        hi = np.uint32(keys[i]) << np.uint32(16)
        if is_run:
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            runs = np.frombuffer(buf, "<u2", 2 * n_runs, pos).reshape(-1, 2)
            pos += 4 * n_runs
            lows = np.concatenate(
                [
                    np.arange(s, s + ln + 1, dtype=np.uint32)
                    for s, ln in runs.astype(np.uint32)
                ]
            ) if n_runs else np.empty(0, np.uint32)
        elif cards[i] <= _ARRAY_MAX:
            lows = np.frombuffer(buf, "<u2", cards[i], pos).astype(np.uint32)
            pos += 2 * cards[i]
        else:
            raw = np.frombuffer(buf, np.uint8, 8192, pos)
            lows = np.flatnonzero(
                np.unpackbits(raw, bitorder="little")
            ).astype(np.uint32)
            pos += 8192
        parts.append(hi | lows)
    vals = np.concatenate(parts) if parts else np.empty(0, np.uint32)
    return vals, pos


# ---------------------------------------------------------------------------
# RoaringBitmapArray (portable) — the DV payload
# ---------------------------------------------------------------------------


def serialize_dv(positions) -> bytes:
    """Serialize sorted-or-not int64 row positions (each < 2^63,
    bucketed by their high 32 bits) into the portable
    RoaringBitmapArray blob."""
    arr = np.unique(np.asarray(list(positions), dtype=np.uint64))
    hi = (arr >> np.uint64(32)).astype(np.uint32)
    uniq, starts = np.unique(hi, return_index=True)
    bounds = list(starts) + [len(arr)]
    out = bytearray(struct.pack("<iq", MAGIC_PORTABLE, len(uniq)))
    for i, k in enumerate(uniq):
        out += struct.pack("<I", int(k))
        out += _serialize_roaring32(
            (arr[bounds[i] : bounds[i + 1]] & np.uint64(0xFFFFFFFF)).astype(np.uint32)
        )
    return bytes(out)


def deserialize_dv(blob: bytes) -> np.ndarray:
    """Portable RoaringBitmapArray blob → sorted int64 positions."""
    magic, n = struct.unpack_from("<iq", blob, 0)
    if magic != MAGIC_PORTABLE:
        raise ValueError(f"bad deletion-vector magic {magic}")
    pos = 12
    parts = []
    for _ in range(n):
        (key,) = struct.unpack_from("<I", blob, pos)
        vals, pos = _parse_roaring32(blob, pos + 4)
        parts.append((np.uint64(key) << np.uint64(32)) | vals.astype(np.uint64))
    out = (
        np.concatenate(parts).astype(np.int64) if parts else np.empty(0, np.int64)
    )
    return out


# ---------------------------------------------------------------------------
# Sidecar file IO + descriptor resolution
# ---------------------------------------------------------------------------


def write_dv_file(path: str, blobs: list[bytes]) -> list[int]:
    """Write one DV sidecar holding ``blobs`` back-to-back; returns the
    per-blob ``offset`` values for their descriptors."""
    offsets = []
    with open(path, "wb") as fh:
        fh.write(bytes([DV_FILE_VERSION]))
        pos = 1
        for blob in blobs:
            offsets.append(pos)
            fh.write(struct.pack(">i", len(blob)))
            fh.write(blob)
            fh.write(struct.pack(">I", zlib.crc32(blob) & 0xFFFFFFFF))
            pos += 4 + len(blob) + 4
    return offsets


def read_dv_blob(path: str, offset: int, size_in_bytes: int) -> bytes:
    """Read + checksum-verify one DV blob out of a sidecar file."""
    with open(path, "rb") as fh:
        if fh.read(1) != bytes([DV_FILE_VERSION]):
            raise ValueError(f"unsupported DV file version in {path}")
        fh.seek(offset)
        (size,) = struct.unpack(">i", fh.read(4))
        if size != size_in_bytes:
            raise ValueError(
                f"DV size mismatch in {path}@{offset}: file says {size}, "
                f"descriptor says {size_in_bytes}"
            )
        blob = fh.read(size)
        (crc,) = struct.unpack(">I", fh.read(4))
    if zlib.crc32(blob) & 0xFFFFFFFF != crc:
        raise ValueError(f"DV checksum mismatch in {path}@{offset}")
    return blob


def dv_relative_path(path_or_inline: str) -> str:
    """``u``-storage descriptor → sidecar path relative to the table
    root: all but the trailing 20 chars are an optional directory
    prefix; the tail is the Z85-encoded 16-byte UUID."""
    prefix, enc = path_or_inline[:-20], path_or_inline[-20:]
    u = uuid.UUID(bytes=z85_decode(enc, 16))
    name = f"deletion_vector_{u}.bin"
    return os.path.join(prefix, name) if prefix else name


def make_uuid_descriptor_path(u: uuid.UUID, prefix: str = "") -> str:
    return prefix + z85_encode(u.bytes)


def decode_descriptor_positions(desc: dict, table_location: str) -> np.ndarray:
    """Descriptor dict (storageType/pathOrInlineDv/offset/sizeInBytes)
    → sorted int64 deleted row positions. Pure function of local
    bytes — safe to call executor-side."""
    st = desc["storageType"]
    if st == "i":
        blob = z85_decode(desc["pathOrInlineDv"], desc["sizeInBytes"])
    elif st in ("u", "p"):
        if st == "u":
            path = os.path.join(table_location, dv_relative_path(desc["pathOrInlineDv"]))
        else:
            path = desc["pathOrInlineDv"]
            if path.startswith("file:"):
                path = "/" + path.split(":", 1)[1].lstrip("/")
        blob = read_dv_blob(path, desc["offset"], desc["sizeInBytes"])
    else:
        raise NotImplementedError(f"unknown DV storageType {st!r}")
    return deserialize_dv(blob)
