"""Puffin file format + Iceberg v3 deletion-vector blobs, pure stdlib.

Sources are the public specs only:

- Puffin format (iceberg.apache.org/puffin-spec): ``PFA1`` magic, blobs
  concatenated, then Footer = Magic, FooterPayload (JSON), FooterPayloadSize
  (4-byte LE int), Flags (4 bytes), Magic.
- Iceberg v3 deletion vectors (iceberg.apache.org/spec — "Position Delete
  Vectors"): blob type ``deletion-vector-v1``; the blob is
  [combined length of magic+vector as 4-byte BE int][magic bytes
  ``D1 3F 39 64``][64-bit roaring bitmap, portable format][CRC-32C of
  magic+vector as 4-byte BE int].  The magic int (1681511377 LE) and the
  portable RoaringBitmapArray layout are exactly Delta's deletion-vector
  serialization — the two formats harmonized on it — so this module
  reuses ``sinks/dv.py``'s codec verbatim: ``serialize_positions`` output
  IS the magic+vector byte string.

The reference pins Iceberg at spec v2 with no row-level deletes at all;
this is the v3 read/write half that mirrors the Delta sink's deletion
vectors (sinks/delta.py) on the Iceberg side.
"""

from __future__ import annotations

import json
import os
import struct
import uuid as _uuid

import numpy as np

from lakehouse_loader_spark.sinks import dv as dvmod

PUFFIN_MAGIC = b"PFA1"
DV_BLOB_TYPE = "deletion-vector-v1"


def _make_crc32c_table() -> np.ndarray:
    # CRC-32C (Castagnoli), reflected polynomial 0x82F63B78 — the checksum
    # the Iceberg spec mandates for DV blobs (not zlib's CRC-32).
    t = np.zeros(256, dtype=np.uint64)
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
        t[i] = c
    return t


_CRC32C = _make_crc32c_table()


def crc32c(data: bytes) -> int:
    c = 0xFFFFFFFF
    for b in data:
        c = (c >> 8) ^ int(_CRC32C[(c ^ b) & 0xFF])
    return c ^ 0xFFFFFFFF


def dv_blob_bytes(serialized_bitmap: bytes) -> bytes:
    """magic+vector bytes (``dv.serialize_positions`` output) → the full
    deletion-vector-v1 blob: BE length, payload, BE CRC-32C."""
    return (
        struct.pack(">i", len(serialized_bitmap))
        + serialized_bitmap
        + struct.pack(">I", crc32c(serialized_bitmap))
    )


def write_dv_puffin(
    table_path: str,
    blobs: list[tuple[str, bytes, int]],
    snapshot_id: int,
    sequence_number: int,
) -> tuple[str, list[dict]]:
    """Write one Puffin file holding a deletion-vector-v1 blob per target
    data file.  ``blobs`` is [(referenced data file ABSOLUTE path,
    serialized bitmap incl. magic, cardinality)]; returns
    (relative file name under the table, per-blob descriptors with
    offset/length/cardinality/referenced path) for the manifest entries.

    Staged + atomic-renamed like every other table file; the crash
    leak-window is reaped by the same maintenance walk as data files."""
    rel = os.path.join("data", f"dv-{_uuid.uuid4().hex}.puffin")
    out = bytearray(PUFFIN_MAGIC)
    metas = []
    for referenced, ser, card in blobs:
        blob = dv_blob_bytes(ser)
        metas.append(
            {
                "type": DV_BLOB_TYPE,
                "fields": [2147483546],  # the spec's reserved pos field id
                "snapshot-id": snapshot_id,
                "sequence-number": sequence_number,
                "offset": len(out),
                "length": len(blob),
                "properties": {
                    "referenced-data-file": referenced,
                    "cardinality": str(card),
                },
            }
        )
        out += blob
    payload = json.dumps({"blobs": metas, "properties": {}}).encode()
    out += PUFFIN_MAGIC + payload + struct.pack("<i", len(payload))
    out += b"\x00\x00\x00\x00" + PUFFIN_MAGIC  # flags: uncompressed footer
    full = os.path.join(table_path, rel)
    os.makedirs(os.path.dirname(full), exist_ok=True)
    tmp = f"{full}.{_uuid.uuid4().hex}.tmp"
    with open(tmp, "wb") as fh:
        fh.write(bytes(out))
    os.replace(tmp, full)
    return rel, metas


def read_blob(file_abs: str, offset: int, length: int) -> bytes:
    """One deletion-vector-v1 blob → the magic+vector bytes (COMPRESSED —
    ``dv.positions_frame`` expands them in the JVM), CRC-32C and length
    verified:
    a torn bitmap must fail loudly, never silently undelete rows."""
    with open(file_abs, "rb") as fh:
        fh.seek(offset)
        raw = fh.read(length)
    (ln,) = struct.unpack_from(">i", raw, 0)
    if ln != length - 8:
        raise ValueError(
            f"DV blob length mismatch in {file_abs}@{offset}: header {ln}, "
            f"manifest {length - 8}"
        )
    ser = raw[4 : 4 + ln]
    (crc,) = struct.unpack_from(">I", raw, 4 + ln)
    if crc32c(ser) != crc:
        raise ValueError(f"DV blob CRC-32C mismatch in {file_abs}@{offset}")
    magic = struct.unpack_from("<i", ser, 0)[0]
    if magic != dvmod.DV_MAGIC:
        raise ValueError(f"bad deletion-vector magic {magic} in {file_abs}")
    return ser


def read_footer(file_abs: str) -> list[dict]:
    """The Puffin footer's blob descriptors (tooling/verification)."""
    with open(file_abs, "rb") as fh:
        data = fh.read()
    if data[:4] != PUFFIN_MAGIC or data[-4:] != PUFFIN_MAGIC:
        raise ValueError(f"not a Puffin file: {file_abs}")
    (size,) = struct.unpack_from("<i", data, len(data) - 12)
    flags = data[len(data) - 8 : len(data) - 4]
    if flags != b"\x00\x00\x00\x00":
        raise ValueError(f"unsupported Puffin footer flags {flags!r}")
    payload = data[len(data) - 12 - size : len(data) - 12]
    return json.loads(payload.decode())["blobs"]


STATS_BLOB_TYPE = "apache-datasketches-theta-v1"


def write_stats_puffin(
    table_path: str,
    sketches: list[tuple[int, bytes, int]],
    snapshot_id: int,
    sequence_number: int,
) -> tuple[str, int, int, list[dict]]:
    """Write a table-statistics Puffin file: one
    ``apache-datasketches-theta-v1`` blob per column.  ``sketches`` is
    [(field_id, serialized compact theta sketch, ndv estimate)].  Unlike
    deletion-vector-v1 blobs, theta blobs are the RAW sketch bytes — the
    length/CRC framing is specific to the DV blob type.  Returns
    (relative path, file size, footer size, blob metadata) for the
    metadata's ``statistics`` entry."""
    rel = os.path.join("metadata", f"stats-{_uuid.uuid4().hex}.puffin")
    out = bytearray(PUFFIN_MAGIC)
    metas = []
    for field_id, ser, ndv in sketches:
        metas.append(
            {
                "type": STATS_BLOB_TYPE,
                "fields": [field_id],
                "snapshot-id": snapshot_id,
                "sequence-number": sequence_number,
                "offset": len(out),
                "length": len(ser),
                "properties": {"ndv": str(ndv)},
            }
        )
        out += ser
    footer_start = len(out)
    payload = json.dumps({"blobs": metas, "properties": {}}).encode()
    out += PUFFIN_MAGIC + payload + struct.pack("<i", len(payload))
    out += b"\x00\x00\x00\x00" + PUFFIN_MAGIC  # flags: uncompressed footer
    full = os.path.join(table_path, rel)
    os.makedirs(os.path.dirname(full), exist_ok=True)
    tmp = f"{full}.{_uuid.uuid4().hex}.tmp"
    with open(tmp, "wb") as fh:
        fh.write(bytes(out))
    os.replace(tmp, full)
    return rel, len(out), len(out) - footer_start, metas
