"""Roaring bitmap + Z85 codecs for Delta deletion vectors.

Delta Lake's deletion vectors (PROTOCOL.md "Deletion Vectors", public)
store the deleted row indexes of a data file as a serialized
``RoaringBitmapArray`` — the "portable" 64-bit format layered on the
standard 32-bit Roaring serialization (RoaringFormatSpec, public):

* portable array: ``magic 1681511377 (int32 LE)``, ``number of 32-bit
  bitmaps (int64 LE)``, then per bitmap ``key (int32 LE)`` + standard
  32-bit serialization; a 64-bit value is ``key << 32 | value32``.
* standard 32-bit bitmap: cookie ``12346`` (no run containers — int32
  cookie + int32 container count) or ``12347`` (run containers — count
  packed in the cookie's upper 16 bits, then a run-flag bitset);
  descriptive headers of ``(key uint16, cardinality-1 uint16)``; an
  offset table (always for 12346, only at >= 4 containers for 12347);
  then container payloads — sorted ``uint16`` arrays (cardinality <=
  4096), 8 KiB bitsets, or ``(start, length-1)`` run pairs.

The encoder half always emits the 12346 form with array/bitset
containers — spec-valid output any Roaring reader accepts — and exists
for fixtures/tests; the decoder accepts all three container types so
foreign writers' vectors (which do emit run containers) decode.

Z85 (ZeroMQ base85, public spec) encodes DV file-name UUIDs and inline
vectors in the Delta log; stdlib ``base64.b85encode`` uses the RFC 1924
alphabet, hence the 20-line codec here.

None of this is row-data-sized: a DV is a compressed bitmap attached to
one file's metadata, read driver-side like any log action; EXPANSION to
row indexes happens executor-side (deltalog._dv_rows_df).
"""

from __future__ import annotations

import struct
import zlib

_PORTABLE_MAGIC = 1681511377
_SERIAL_COOKIE_NO_RUN = 12346
_SERIAL_COOKIE_RUN = 12347
_NO_OFFSET_THRESHOLD = 4

# ------------------------------------------------------------------- Z85

_Z85_ALPHABET = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#")
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_ALPHABET)}


def z85_encode(data: bytes) -> str:
    if len(data) % 4:
        raise ValueError("z85 input must be a multiple of 4 bytes")
    out = []
    for i in range(0, len(data), 4):
        n = int.from_bytes(data[i:i + 4], "big")
        chunk = []
        for _ in range(5):
            chunk.append(_Z85_ALPHABET[n % 85])
            n //= 85
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(text: str) -> bytes:
    if len(text) % 5:
        raise ValueError("z85 input must be a multiple of 5 chars")
    out = bytearray()
    for i in range(0, len(text), 5):
        n = 0
        for c in text[i:i + 5]:
            try:
                n = n * 85 + _Z85_INDEX[c]
            except KeyError:
                raise ValueError(f"invalid z85 character {c!r}") from None
        out += n.to_bytes(4, "big")
    return bytes(out)


# ------------------------------------------- standard 32-bit roaring

def _serialize_roaring32(values: list[int]) -> bytes:
    """Sorted distinct uint32 values → standard serialization (12346
    form: array containers <= 4096 cardinality, bitsets above)."""
    containers: dict[int, list[int]] = {}
    for v in values:
        containers.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(containers)
    out = bytearray()
    out += struct.pack("<ii", _SERIAL_COOKIE_NO_RUN, len(keys))
    for k in keys:
        out += struct.pack("<HH", k, len(containers[k]) - 1)
    # offset table: byte position of each container payload
    header_end = len(out) + 4 * len(keys)
    payloads = []
    pos = header_end
    offsets = []
    for k in keys:
        vals = containers[k]
        if len(vals) <= 4096:
            payload = struct.pack(f"<{len(vals)}H", *vals)
        else:
            bits = bytearray(8192)
            for v in vals:
                bits[v >> 3] |= 1 << (v & 7)
            payload = bytes(bits)
        offsets.append(pos)
        payloads.append(payload)
        pos += len(payload)
    out += struct.pack(f"<{len(keys)}I", *offsets)
    for p in payloads:
        out += p
    return bytes(out)


def _roaring32_headers(buf: bytes, pos: int
                       ) -> tuple[list[tuple[int, int, bool]], int]:
    """Standard serialization at ``buf[pos:]`` → ([(key, header
    cardinality, is run container)], position of the first container
    payload). Accepts both cookies."""
    cookie = struct.unpack_from("<i", buf, pos)[0]
    if (cookie & 0xFFFF) == _SERIAL_COOKIE_RUN:
        n = (cookie >> 16) + 1
        pos += 4
        nflag = (n + 7) // 8
        run_flags = buf[pos:pos + nflag]
        pos += nflag
        has_offsets = n >= _NO_OFFSET_THRESHOLD
    elif cookie == _SERIAL_COOKIE_NO_RUN:
        n = struct.unpack_from("<i", buf, pos + 4)[0]
        pos += 8
        run_flags = bytes((n + 7) // 8)
        has_offsets = True
    else:
        raise ValueError(f"not a roaring bitmap (cookie {cookie})")
    headers = []
    for i in range(n):
        k, cm1 = struct.unpack_from("<HH", buf, pos)
        pos += 4
        headers.append((k, cm1 + 1,
                        bool(run_flags[i // 8] & (1 << (i % 8)))))
    if has_offsets:
        pos += 4 * n   # offsets are redundant for sequential decode
    return headers, pos


def _deserialize_roaring32(buf: bytes, pos: int) -> tuple[list[int], int]:
    """Standard serialization at ``buf[pos:]`` → (sorted uint32 values,
    next position). Accepts both cookies and all container types."""
    headers, pos = _roaring32_headers(buf, pos)
    values: list[int] = []
    for k, card, is_run in headers:
        base = k << 16
        if is_run:
            n_runs = struct.unpack_from("<H", buf, pos)[0]
            pos += 2
            for _ in range(n_runs):
                start, lm1 = struct.unpack_from("<HH", buf, pos)
                pos += 4
                values.extend(base + v for v in range(start, start + lm1 + 1))
        elif card > 4096:
            bits = buf[pos:pos + 8192]
            pos += 8192
            for byte_i, b in enumerate(bits):
                while b:
                    low = b & -b
                    values.append(base + (byte_i << 3) + low.bit_length() - 1)
                    b ^= low
        else:
            vals = struct.unpack_from(f"<{card}H", buf, pos)
            pos += 2 * card
            values.extend(base + v for v in vals)
    return values, pos


def _roaring32_cardinality(buf: bytes, pos: int) -> tuple[int, int]:
    """(number of values, next position) of the standard serialization
    at ``buf[pos:]``, counted from the containers without expanding
    them: array containers by their header, bitsets by popcount, runs
    by their lengths. Work is linear in the serialized bytes."""
    headers, pos = _roaring32_headers(buf, pos)
    total = 0
    for _k, card, is_run in headers:
        if is_run:
            n_runs = struct.unpack_from("<H", buf, pos)[0]
            runs = struct.unpack_from(f"<{2 * n_runs}H", buf, pos + 2)
            total += sum(runs[1::2]) + n_runs
            pos += 2 + 4 * n_runs
        elif card > 4096:
            total += int.from_bytes(buf[pos:pos + 8192], "little").bit_count()
            pos += 8192
        else:
            total += card
            pos += 2 * card
    return total, pos


# --------------------------------------------- portable 64-bit array

def serialize_bitmap_array(values: "list[int]") -> bytes:
    """Sorted distinct uint64 row indexes → Delta's portable
    RoaringBitmapArray bytes."""
    groups: dict[int, list[int]] = {}
    for v in sorted(set(values)):
        groups.setdefault(v >> 32, []).append(v & 0xFFFFFFFF)
    out = bytearray(struct.pack("<iq", _PORTABLE_MAGIC, len(groups)))
    for key in sorted(groups):
        out += struct.pack("<i", key)
        out += _serialize_roaring32(groups[key])
    return bytes(out)


def _bitmap_array_parts(data: bytes, read32):
    """Yield (key, ``read32(data, pos)[0]``) per 32-bit bitmap of Delta's
    portable RoaringBitmapArray bytes."""
    magic, n = struct.unpack_from("<iq", data, 0)
    if magic != _PORTABLE_MAGIC:
        raise ValueError(
            f"not a portable RoaringBitmapArray (magic {magic})")
    pos = 12
    for _ in range(n):
        key = struct.unpack_from("<i", data, pos)[0]
        part, pos = read32(data, pos + 4)
        yield key, part


def deserialize_bitmap_array(data: bytes) -> list[int]:
    """Delta portable RoaringBitmapArray bytes → sorted row indexes."""
    return [(key << 32) | v for key, vals32 in
            _bitmap_array_parts(data, _deserialize_roaring32)
            for v in vals32]


def bitmap_array_cardinality(data: bytes) -> int:
    """Number of row indexes in Delta portable RoaringBitmapArray bytes,
    counted without expanding them (the bitmap's own count, whatever a
    descriptor declares)."""
    return sum(card for _, card in
               _bitmap_array_parts(data, _roaring32_cardinality))


# --------------------------------------------------- DV file framing

def frame_dv(data: bytes) -> bytes:
    """One on-disk DV entry: size (int32 BE) + data + CRC-32 (int32 BE)
    — the PROTOCOL.md deletion-vector file framing."""
    return (struct.pack(">i", len(data)) + data
            + struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF))


def unframe_dv(buf: bytes, offset: int, size_hint: int | None) -> bytes:
    """Extract a DV's bitmap bytes from a DV file's contents at
    ``offset``. Primary layout: size prefix + data + CRC (verified).
    Fallback (size prefix absent/mismatched but a ``sizeInBytes`` hint
    is present): treat ``offset`` as pointing directly at the data —
    tolerated because the descriptor's sizeInBytes is authoritative."""
    if offset + 4 <= len(buf):
        (size,) = struct.unpack_from(">i", buf, offset)
        if (size_hint is None or size == size_hint) and \
                offset + 8 + size <= len(buf):
            data = buf[offset + 4:offset + 4 + size]
            (crc,) = struct.unpack_from(">I", buf, offset + 4 + size)
            if zlib.crc32(data) & 0xFFFFFFFF == crc:
                return data
    if size_hint is not None and offset + size_hint <= len(buf):
        return buf[offset:offset + size_hint]
    raise ValueError("deletion vector framing not recognized "
                     "(bad size/CRC at descriptor offset)")
