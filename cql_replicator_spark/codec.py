"""Column compression codec.

The reference compresses column payloads with LZ4-with-length-prefix
(LZ4CompressorWithLength — compressWithLZ4B K:641-652, compressValues
K:727-757), explicitly documented as incompatible with raw LZ4 framing
(docs/keyspaces/README.MD:237-240).

This container has no lz4 package, so the codec is pluggable:
  * 'lz4'  — 4-byte little-endian length prefix + LZ4 block, matching
    LZ4CompressorWithLength's wire format (available when the lz4
    package is installed; import-gated).
  * 'zlib' — same length-prefix convention over zlib (always available).
Payloads are tagged with a 1-byte codec id so decompress is
self-describing; the reference's raw format (no tag) can be produced
with tag=False for wire compatibility when lz4 is present.
"""

from __future__ import annotations

import struct
import zlib

try:
    import lz4.block as _lz4block  # type: ignore
except ImportError:  # pragma: no cover - environment-dependent
    _lz4block = None

_CODEC_LZ4 = b"\x01"
_CODEC_ZLIB = b"\x02"


def default_codec() -> str:
    return "lz4" if _lz4block is not None else "zlib"


def compress(data: bytes, codec: str | None = None, tag: bool = True) -> bytes:
    codec = codec or default_codec()
    prefix = struct.pack("<I", len(data))  # decompressed-length prefix
    if codec == "lz4":
        if _lz4block is None:
            raise RuntimeError("lz4 package not available; use codec='zlib'")
        # Canonical empty block (single 0x00 end token) emitted directly:
        # it is what the format specifies for b"" and sidesteps binding
        # versions that reject empty input.
        block = b"\x00" if not data else _lz4block.compress(data, store_size=False)
        body = prefix + block
        return (_CODEC_LZ4 + body) if tag else body
    if codec == "zlib":
        body = prefix + zlib.compress(data)
        return (_CODEC_ZLIB + body) if tag else body
    raise ValueError(f"unknown codec {codec!r}")


# Declared-length ceiling for decompress: column payloads are bounded
# well below this (the reference offloads big blobs to an object store), so
# anything larger is a corrupt or forged prefix. Without the cap, a
# 4-byte prefix is attacker-controlled up to 4 GiB and BOTH codec paths
# allocate it before any validation — the decompression-bomb class the
# r7 mutation hunt caught in the GIF LZW decoder (41 GB RSS).
MAX_DECOMPRESSED = 256 * 1024 * 1024


def decompress(blob: bytes, max_output: int = MAX_DECOMPRESSED) -> bytes:
    codec_id, body = blob[:1], blob[1:]
    (length,) = struct.unpack("<I", body[:4])
    if length > max_output:
        raise ValueError(
            f"declared length {length} exceeds max_output {max_output} "
            f"(corrupt or forged prefix)")
    payload = body[4:]
    if codec_id == _CODEC_LZ4:
        # uncompressed_size<=0 means "trust the stream" in the binding
        # (unbounded growth), so length==0 can't be expressed as an
        # inflate target at all: asking for 1 byte makes the binding
        # raise on the legitimate empty block (0 bytes produced != 1
        # expected). The canonical LZ4 block for b"" is the single
        # 0x00 end token — match it directly (no binding needed);
        # anything else under a 0 prefix is a forged prefix over a
        # real payload.
        if length == 0:
            if payload == b"\x00":
                return b""
            raise ValueError("length prefix mismatch")
        if _lz4block is None:
            raise RuntimeError("lz4 payload but lz4 package not available")
        # lz4 allocates exactly uncompressed_size, now capped above.
        try:
            out = _lz4block.decompress(payload, uncompressed_size=length)
        except Exception as e:  # binding raises on size mismatch
            raise ValueError("length prefix mismatch") from e
        if len(out) != length:
            raise ValueError("length prefix mismatch")
        return out
    if codec_id == _CODEC_ZLIB:
        # streaming inflate capped at the declared length: a zlib bomb
        # (tiny payload, huge expansion) must not allocate beyond the
        # prefix before the mismatch check fires. max_length=0 means
        # UNLIMITED to zlib, so a forged length-0 prefix would inflate
        # the whole bomb before the check — ask for one byte instead
        # and require that none come back.
        d = zlib.decompressobj()
        out = d.decompress(payload, max(length, 1))
        overrun = (not d.eof and (d.unconsumed_tail or d.decompress(b"", 1)))
        if len(out) != length or overrun or d.unused_data:
            raise ValueError("length prefix mismatch")
        return out
    raise ValueError(f"unknown codec tag {codec_id!r}")
