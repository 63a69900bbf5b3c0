"""Minimal pure-stdlib AES-CBC for PDF decryption (FIPS-197).

The container ships no ``cryptography``/``pycryptodome``, and the PDF
standard security handler uses AES-128-CBC (``/AESV2``, PDF 32000-1
§7.6.2) and AES-256-CBC (``/AESV3``, §7.6.4) for every string and stream
in modern encrypted files.  This module implements exactly what that
needs: key expansion and CBC encrypt/decrypt for 128/192/256-bit keys.
Throughput is Python-interpreter speed (~MB/s) — entirely adequate for
per-document parsing.

Self-contained re-implementation from the FIPS-197 spec; test vectors
from the spec's Appendix C are pinned in tests/test_minipdf.py.
"""

from __future__ import annotations

__all__ = ["cbc_decrypt", "cbc_encrypt"]

_SBOX = bytes.fromhex(
    "637c777bf26b6fc53001672bfed7ab76ca82c97dfa5947f0add4a2af9ca472c0"
    "b7fd9326363ff7cc34a5e5f171d8311504c723c31896059a071280e2eb27b275"
    "09832c1a1b6e5aa0523bd6b329e32f8453d100ed20fcb15b6acbbe394a4c58cf"
    "d0efaafb434d338545f9027f503c9fa851a3408f929d38f5bcb6da2110fff3d2"
    "cd0c13ec5f974417c4a77e3d645d197360814fdc222a908846eeb814de5e0bdb"
    "e0323a0a4906245cc2d3ac629195e479e7c8376d8dd54ea96c56f4ea657aae08"
    "ba78252e1ca6b4c6e8dd741f4bbd8b8a703eb5664803f60e613557b986c11d9e"
    "e1f8981169d98e949b1e87e9ce5528df8ca1890dbfe6426841992d0fb054bb16"
)
_INV_SBOX = bytes(256)
_inv = bytearray(256)
for i, v in enumerate(_SBOX):
    _inv[v] = i
_INV_SBOX = bytes(_inv)
_RCON = [0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36, 0x6C, 0xD8, 0xAB, 0x4D]


def _xtime(a: int) -> int:
    a <<= 1
    return (a ^ 0x1B) & 0xFF if a & 0x100 else a


# Multiplication tables for the fixed MixColumns coefficients.
def _mul_table(c: int) -> bytes:
    out = bytearray(256)
    for a in range(256):
        x, b, r = a, c, 0
        while b:
            if b & 1:
                r ^= x
            x = _xtime(x)
            b >>= 1
        out[a] = r
    return bytes(out)


_M2, _M3 = _mul_table(2), _mul_table(3)
_M9, _M11, _M13, _M14 = (
    _mul_table(9),
    _mul_table(11),
    _mul_table(13),
    _mul_table(14),
)


def _expand_key(key: bytes) -> list[bytes]:
    nk = len(key) // 4
    if nk not in (4, 6, 8):
        raise ValueError("AES key must be 16, 24, or 32 bytes")
    nr = nk + 6
    words = [key[4 * i : 4 * i + 4] for i in range(nk)]
    for i in range(nk, 4 * (nr + 1)):
        t = words[i - 1]
        if i % nk == 0:
            t = bytes(
                _SBOX[t[(j + 1) % 4]] ^ (_RCON[i // nk - 1] if j == 0 else 0)
                for j in range(4)
            )
        elif nk > 6 and i % nk == 4:
            t = bytes(_SBOX[b] for b in t)
        words.append(bytes(a ^ b for a, b in zip(words[i - nk], t)))
    return [b"".join(words[4 * r : 4 * r + 4]) for r in range(nr + 1)]


def _add_round_key(s: bytearray, rk: bytes) -> None:
    for i in range(16):
        s[i] ^= rk[i]


_SHIFT = [0, 5, 10, 15, 4, 9, 14, 3, 8, 13, 2, 7, 12, 1, 6, 11]
_INV_SHIFT = [0, 13, 10, 7, 4, 1, 14, 11, 8, 5, 2, 15, 12, 9, 6, 3]


def _encrypt_block(block: bytes, rks: list[bytes]) -> bytes:
    s = bytearray(block)
    _add_round_key(s, rks[0])
    for rnd in range(1, len(rks) - 1):
        s = bytearray(_SBOX[s[_SHIFT[i]]] for i in range(16))
        t = bytearray(16)
        for c in range(4):
            a0, a1, a2, a3 = s[4 * c : 4 * c + 4]
            t[4 * c] = _M2[a0] ^ _M3[a1] ^ a2 ^ a3
            t[4 * c + 1] = a0 ^ _M2[a1] ^ _M3[a2] ^ a3
            t[4 * c + 2] = a0 ^ a1 ^ _M2[a2] ^ _M3[a3]
            t[4 * c + 3] = _M3[a0] ^ a1 ^ a2 ^ _M2[a3]
        s = t
        _add_round_key(s, rks[rnd])
    s = bytearray(_SBOX[s[_SHIFT[i]]] for i in range(16))
    _add_round_key(s, rks[-1])
    return bytes(s)


def _decrypt_block(block: bytes, rks: list[bytes]) -> bytes:
    s = bytearray(block)
    _add_round_key(s, rks[-1])
    for rnd in range(len(rks) - 2, 0, -1):
        s = bytearray(_INV_SBOX[s[_INV_SHIFT[i]]] for i in range(16))
        _add_round_key(s, rks[rnd])
        t = bytearray(16)
        for c in range(4):
            a0, a1, a2, a3 = s[4 * c : 4 * c + 4]
            t[4 * c] = _M14[a0] ^ _M11[a1] ^ _M13[a2] ^ _M9[a3]
            t[4 * c + 1] = _M9[a0] ^ _M14[a1] ^ _M11[a2] ^ _M13[a3]
            t[4 * c + 2] = _M13[a0] ^ _M9[a1] ^ _M14[a2] ^ _M11[a3]
            t[4 * c + 3] = _M11[a0] ^ _M13[a1] ^ _M9[a2] ^ _M14[a3]
        s = t
    s = bytearray(_INV_SBOX[s[_INV_SHIFT[i]]] for i in range(16))
    _add_round_key(s, rks[0])
    return bytes(s)


def cbc_encrypt(key: bytes, iv: bytes, data: bytes, pad: bool = True) -> bytes:
    """AES-CBC encrypt; PKCS#7 padding by default (PDF's convention)."""
    rks = _expand_key(key)
    if pad:
        p = 16 - len(data) % 16
        data = data + bytes([p]) * p
    elif len(data) % 16:
        raise ValueError("unpadded CBC input must be block-aligned")
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = bytes(a ^ b for a, b in zip(data[i : i + 16], prev))
        prev = _encrypt_block(blk, rks)
        out += prev
    return bytes(out)


def cbc_decrypt(key: bytes, iv: bytes, data: bytes, unpad: bool = True) -> bytes:
    """AES-CBC decrypt; strips PKCS#7 padding by default.  Returns b""
    for inputs that cannot be valid ciphertext (not block-aligned)."""
    if len(data) % 16 or not data:
        return b""
    rks = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = data[i : i + 16]
        out += bytes(a ^ b for a, b in zip(_decrypt_block(blk, rks), prev))
        prev = blk
    if unpad and out:
        p = out[-1]
        if 1 <= p <= 16:
            out = out[:-p]
    return bytes(out)
