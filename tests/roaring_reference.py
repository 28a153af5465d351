"""Pure-Python reference decoders for Delta deletion-vector bitmaps
(delta PROTOCOL.md §Deletion Vector Format; RoaringFormatSpec container
layout). The package decodes with numpy (``_decode_roaring32_np`` /
``_dv_positions_np``); these loop-per-value decoders are the slow,
obviously-correct twins the tests cross-check it against."""

import struct
from typing import List

from mack_spark.sources.delta_log import (
    _ROARING_MAGIC,
    _SERIAL_COOKIE,
    _SERIAL_COOKIE_NO_RUN,
)


def decode_roaring32(buf: bytes, pos: int):
    """One 32-bit roaring bitmap → (values, pos after it)."""
    cookie = struct.unpack_from("<I", buf, pos)[0]
    if (cookie & 0xFFFF) == _SERIAL_COOKIE:
        n = (cookie >> 16) + 1
        pos += 4
        nrb = (n + 7) // 8
        run_flags = buf[pos:pos + nrb]
        pos += nrb
        has_run = True
    elif cookie == _SERIAL_COOKIE_NO_RUN:
        pos += 4
        n = struct.unpack_from("<I", buf, pos)[0]
        pos += 4
        run_flags = b"\x00" * ((n + 7) // 8)
        has_run = False
    else:
        raise ValueError(f"bad roaring cookie {cookie}")
    headers = []
    for _ in range(n):
        k = struct.unpack_from("<H", buf, pos)[0]
        c = struct.unpack_from("<H", buf, pos + 2)[0] + 1
        headers.append((k, c))
        pos += 4
    if (not has_run) or n >= 4:
        pos += 4 * n  # offset header — sequential decode doesn't need it
    vals: List[int] = []
    for i, (k, c) in enumerate(headers):
        base = k << 16
        if run_flags[i // 8] & (1 << (i % 8)):
            n_runs = struct.unpack_from("<H", buf, pos)[0]
            pos += 2
            for _ in range(n_runs):
                start = struct.unpack_from("<H", buf, pos)[0]
                length = struct.unpack_from("<H", buf, pos + 2)[0]
                pos += 4
                vals.extend(range(base + start, base + start + length + 1))
        elif c > 4096:
            words = struct.unpack_from("<1024Q", buf, pos)
            pos += 8192
            for wi, w in enumerate(words):
                wb = base + wi * 64
                while w:
                    b = (w & -w).bit_length() - 1
                    vals.append(wb + b)
                    w &= w - 1
        else:
            arr = struct.unpack_from("<%dH" % c, buf, pos)
            pos += 2 * c
            vals.extend(base + v for v in arr)
    return vals, pos


def decode_dv_bitmap(data: bytes) -> List[int]:
    """Serialized 64-bit RoaringBitmapArray → sorted row positions."""
    magic = struct.unpack_from("<i", data, 0)[0]
    if magic != _ROARING_MAGIC:
        raise ValueError(f"bad deletion vector magic {magic}")
    n_maps = struct.unpack_from("<q", data, 4)[0]
    pos = 12
    out: List[int] = []
    for _ in range(n_maps):
        key = struct.unpack_from("<I", data, pos)[0]
        pos += 4
        vals, pos = decode_roaring32(data, pos)
        out.extend((key << 32) | v for v in vals)
    return sorted(out)
