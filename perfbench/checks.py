"""Output checks computed apart from the program.

The keystream check re-derives ciphertext from the documented layout
(``core/wire.py``) and cipher (``core/keystream.py``): an FNV-1a 64 seed
of the key id, a rolling state ``k = (k << 1 | k >> 31) mod 2**64`` whose
low byte is the stream, restarting at every value. The AES-SIV check
decrypts cells with ``cryptography``'s ``AESSIV`` under the documented key
derivation. Neither calls into the program.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pyarrow as pa

_MASK64 = (1 << 64) - 1


def keystream(key_id: str, n: int) -> bytes:
    k = 0xCBF29CE484222325
    for b in key_id.encode("utf-8"):
        k = ((k ^ b) * 0x100000001B3) & _MASK64
    out = bytearray(n)
    for i in range(n):
        out[i] = k & 0xFF
        k = ((k << 1) & _MASK64) | (k >> 31)
    return bytes(out)


def _xor(data: bytes, ks: bytes) -> bytes:
    a = np.frombuffer(data, dtype=np.uint8)
    return (a ^ np.frombuffer(ks[: len(a)], dtype=np.uint8)).tobytes()


def _decompress(data: bytes, codec: str, size: int) -> bytes:
    if codec == "UNCOMPRESSED":
        return data
    return pa.decompress(data, decompressed_size=size, codec=codec.lower()).to_pybytes()


def plain_values(page) -> tuple[bytes, list[bytes]]:
    """(level bytes, PLAIN values) of a page, parsed from the Parquet
    format directly."""
    if page.page_type == "DATA_PAGE_V2":
        n_level = int(page.attrs["page_v2_definition_levels_byte_length"]) + int(
            page.attrs["page_v2_repetition_levels_byte_length"]
        )
        levels = page.payload[:n_level]
        body = page.payload[n_level:]
        if page.attrs["page_v2_is_compressed"] == "true":
            body = _decompress(body, page.codec, page.plaintext_bytes - n_level)
    else:
        raw = _decompress(page.payload, page.codec, page.plaintext_bytes)
        n_level = 0
        if page.page_type == "DATA_PAGE_V1" and page.max_def > 0:
            n_level = 4 + struct.unpack_from("<I", raw, 0)[0]
        levels, body = raw[:n_level], raw[n_level:]
    if page.datatype == "BYTE_ARRAY":
        values, pos = [], 0
        while pos < len(body):
            (n,) = struct.unpack_from("<I", body, pos)
            values.append(body[pos + 4 : pos + 4 + n])
            pos += 4 + n
        return levels, values
    width = page.datatype_length or {"INT32": 4, "FLOAT": 4, "INT64": 8, "DOUBLE": 8}[page.datatype]
    return levels, [body[i : i + width] for i in range(0, len(body), width)]


def check_keystream_page(page, key_id: str, ciphertext: bytes, sample: int, rng) -> list[str]:
    """Recompute the ciphertext of ``page`` (whole levels, a sample of
    values, or a prefix of a per-block page) and compare."""
    try:
        return _keystream_errors(page, key_id, ciphertext, sample, rng)
    except (struct.error, IndexError) as e:
        # truncated or malformed wire layout
        return [f"{page.column}#{page.index}: ciphertext does not parse: {e}"]


def _keystream_errors(page, key_id: str, ciphertext: bytes, sample: int, rng) -> list[str]:
    if page.expected_mode == "per_block":
        n = min(len(page.payload), 4096)
        if len(ciphertext) != len(page.payload):
            return [f"{page.column}#{page.index}: per-block length changed"]
        if ciphertext[:n] != _xor(page.payload[:n], keystream(key_id, n)):
            return [f"{page.column}#{page.index}: per-block ciphertext differs"]
        return []
    levels, values = plain_values(page)
    errors = []
    (n_level,) = struct.unpack_from("<I", ciphertext, 0)
    level_wire = ciphertext[4 : 4 + n_level]
    value_wire = ciphertext[4 + n_level :]
    if level_wire != _xor(levels, keystream(key_id, len(levels))):
        errors.append(f"{page.column}#{page.index}: level bytes differ")
    tag, count = value_wire[0], struct.unpack_from("<I", value_wire, 1)[0]
    if count != len(values):
        return errors + [f"{page.column}#{page.index}: {count} values, expected {len(values)}"]
    if tag == 0x01:
        (size,) = struct.unpack_from("<I", value_wire, 5)
        cells = [value_wire[9 + i * size : 9 + (i + 1) * size] for i in range(count)]
    elif tag == 0x00:
        cells, pos = [], 5
        for _ in range(count):
            (n,) = struct.unpack_from("<I", value_wire, pos)
            cells.append(value_wire[pos + 4 : pos + 4 + n])
            pos += 4 + n
    else:
        return errors + [f"{page.column}#{page.index}: unknown value tag {tag}"]
    longest = max((len(v) for v in values), default=0)
    ks = keystream(key_id, longest)
    for i in rng.choice(count, min(sample, count), replace=False) if count else []:
        if cells[i] != _xor(values[i], ks):
            errors.append(f"{page.column}#{page.index}: value {i} differs")
            break
    return errors


def leaked(values, blobs) -> list[bytes]:
    """Sampled plaintext values of 16 bytes or more found in any blob."""
    return [v for v in values if len(v) >= 16 and any(v in b for b in blobs)]


def aessiv_key(key_id: str) -> bytes:
    return hashlib.sha256(b"dbps-key:" + key_id.encode()).digest()


def check_aessiv_cells(cells: list[bytes], plaintexts: list[bytes], key_id: str) -> list[str]:
    """Each protected cell is ``[type tag][16-byte SIV][ciphertext]`` and
    opens under the column key with associated data ``b"value"``."""
    from cryptography.exceptions import InvalidTag
    from cryptography.hazmat.primitives.ciphers.aead import AESSIV

    aead = AESSIV(aessiv_key(key_id))
    errors = []
    for cell, pt in zip(cells, plaintexts):
        if cell is None:
            errors.append(f"{key_id}: a non-null value was stored as null")
        elif len(cell) != 1 + 16 + len(pt):
            errors.append(f"{key_id}: cell of {len(cell)} bytes for {len(pt)}-byte value")
        else:
            try:
                opened = aead.decrypt(cell[1:], [b"value"])
            except InvalidTag:
                opened = None
            if opened != pt:
                errors.append(f"{key_id}: cell does not decrypt to its value")
    return errors
