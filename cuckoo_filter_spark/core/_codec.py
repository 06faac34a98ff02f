"""Blob decoding for the companion sketches, whose blobs come back from
tables, checkpoints and stream state: a short blob, a wrong magic or a
payload of any length but the one its header implies raises
``ValueError``."""

from __future__ import annotations

import struct

import numpy as np


def unpack_header(header: struct.Struct, magic: bytes, blob: bytes, name: str):
    """The header fields after the magic."""
    if len(blob) < header.size or blob[: len(magic)] != magic:
        raise ValueError(f"bad {name} blob")
    return header.unpack_from(blob)[1:]


def unpack_arrays(blob: bytes, offset: int, name: str, *parts):
    """Copies of the ``(dtype, count)`` arrays stored back to back from
    ``offset``, which must fill the rest of the blob exactly."""
    sizes = [np.dtype(dt).itemsize * int(n) for dt, n in parts]
    if offset + sum(sizes) != len(blob):
        raise ValueError(
            f"{name} blob is {len(blob)} bytes; its header implies "
            f"{offset + sum(sizes)}"
        )
    out = []
    for (dt, n), size in zip(parts, sizes):
        out.append(np.frombuffer(blob, dt, count=int(n), offset=offset).copy())
        offset += size
    return out
