"""Minimal real-PDF text extraction (and a tiny writer for fixtures).

The reference parses real PDFs with PDFBox (Function.java:90-132), which
is JVM-only.  The engine carries this pure-stdlib parser instead, and it
is the only PDF reader (sources/binary.py calls nothing else, so an upload
gives the same pages wherever it runs).  It covers the simple-PDF subset of
generator-produced documents: classic xref layout OR the PDF 1.5+ layout
every post-2005 writer emits (``/Type /ObjStm`` compressed object streams
+ cross-reference streams), FlateDecode (zlib) or raw content streams,
text via ``Tj`` / ``'`` / ``"`` / ``TJ`` operators in literal or hex
strings, standard single-byte encoding, AND ``/ToUnicode`` CMaps
(``bfchar`` + ``bfrange``, scalar and array forms) with per-``Tf`` font
tracking — so CID-keyed ``/Type0`` ``Identity-H`` text (what Word, LaTeX,
and every CJK-capable writer emits, including the Japanese PDFs the
reference app targets) round-trips to the original Unicode.  Encrypted
files under the Standard security handler — RC4 (V<=2), AES-128
(``/AESV2``) and AES-256 (``/AESV3``), empty user password, the common
"restricted" shape — decrypt transparently (AES via the bundled
FIPS-197 ``tinyaes``).  PNG/TIFF Flate predictors decode.  It is still
NOT a general PDF library (no JBIG2/CCITT/DCT image codecs, no font
programs beyond the cmaps and CFF encodings that map codes to text).

Object discovery is a raw scan for ``N 0 obj``/``endobj`` spans plus
expansion of every object stream's contents — xref tables/streams are
deliberately NOT consulted (a correct byte-offset index is an
optimization for random access; a linear scan finds the same objects and
also survives mildly damaged files, which PDFBox does too via its
brute-force fallback).

``make_pdf`` writes a genuinely valid classic-layout PDF;
``make_pdf_15`` writes the modern layout (object stream + cross-reference
stream, binary W-packed entries); ``make_pdf_cid`` writes a CID-keyed
``/Type0`` ``Identity-H`` PDF with a ``/ToUnicode`` CMap (the shape every
Unicode-capable writer emits) — all open in any PDF viewer, so tests
exercise the real formats end-to-end rather than a private stand-in.
The writers share one page-tree builder (``_page_tree``) and one
classic-xref assembler (``_classic_file``); each differs only in its font
objects and in how a line becomes a ``Tj`` operand.
"""

from __future__ import annotations

import hashlib
import re
import zlib

__all__ = [
    "extract_text_pages",
    "make_pdf",
    "make_pdf_15",
    "make_pdf_cid",
    "make_pdf_encrypted",
]

_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj(.*?)endobj", re.S)
_STREAM_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n(.*?)\r?\nendstream", re.S)
_STREAM_HEAD_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n", re.S)
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(\s+\d+\s+R)?")
_STREAM_END_RE = re.compile(rb"\s*endstream")
_PAGE_RE = re.compile(rb"/Type\s*/Page(?![a-zA-Z])")
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+\d+\s+R")

# PDF string escapes (PDF 32000-1 §7.3.4.2)
_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _decode_literal(raw: bytes) -> bytes:
    """Decode the inside of a ``( ... )`` literal string."""
    out = bytearray()
    i = 0
    while i < len(raw):
        c = raw[i : i + 1]
        if c == b"\\" and i + 1 < len(raw):
            nxt = raw[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
                continue
            if nxt.isdigit():  # octal escape, 1-3 digits
                j = i + 1
                while j < min(i + 4, len(raw)) and raw[j : j + 1].isdigit():
                    j += 1
                out.append(int(raw[i + 1 : j], 8) & 0xFF)
                i = j
                continue
            i += 1  # lone backslash: drop (line continuation et al.)
            continue
        out += c
        i += 1
    return bytes(out)


def _iter_strings(ops: bytes):
    """Yield ``(position, string_bytes, following_operator)`` triples from
    a content stream: literal ``(...)`` (with nesting/escapes) and hex
    ``<...>`` strings, plus TJ arrays."""
    i, n = 0, len(ops)
    while i < n:
        c = ops[i : i + 1]
        if c == b"(":
            depth, j = 1, i + 1
            buf = bytearray()
            while j < n and depth:
                ch = ops[j : j + 1]
                if ch == b"\\":
                    buf += ops[j : j + 2]
                    j += 2
                    continue
                if ch == b"(":
                    depth += 1
                elif ch == b")":
                    depth -= 1
                    if depth == 0:
                        break
                buf += ch
                j += 1
            # find the operator after the string
            m = re.match(rb"\s*(\[|\]|[A-Za-z'\"*]+)?", ops[j + 1 : j + 24])
            op = (m.group(1) or b"") if m else b""
            yield i, _decode_literal(bytes(buf)), op
            i = j + 1
        elif c == b"<" and ops[i : i + 2] != b"<<":
            j = ops.find(b">", i)
            if j < 0:
                break
            hexstr = re.sub(rb"\s", b"", ops[i + 1 : j])
            if len(hexstr) % 2:
                hexstr += b"0"
            m = re.match(rb"\s*(\[|\]|[A-Za-z'\"*]+)?", ops[j + 1 : j + 24])
            op = (m.group(1) or b"") if m else b""
            yield i, bytes.fromhex(hexstr.decode("ascii", "ignore")), op
            i = j + 1
        elif c == b"<":  # dict <<...>> — skip
            i += 2
        else:
            i += 1


# operators that move to a new line / new text position
_NEWLINE_OPS = re.compile(rb"(^|\s)(T\*|Td|TD)(\s|$)")

# font selection: ``/F1 12 Tf``
_FONTSEL_RE = re.compile(rb"/([A-Za-z0-9.+-]+)\s+[0-9.]+\s+Tf")


class _Font:
    """Decoding info for one page font: 2-byte codes iff /Type0
    (Identity-H CID keying), the /ToUnicode code->str map, and — for
    simple fonts WITHOUT ToUnicode — the byte-code->char map derived from
    /Encoding (WinAnsi/MacRoman base + /Differences, PDF 32000-1 §9.6.5
    and Annex D)."""

    __slots__ = ("two_byte", "cmap", "enc")

    def __init__(
        self,
        two_byte: bool,
        cmap: dict[int, str] | None,
        enc: dict[int, str] | None = None,
    ):
        self.two_byte = two_byte
        self.cmap = cmap
        self.enc = enc


def _decode_shown(raw: bytes, font: "_Font | None") -> str:
    """Decode one shown string through the active font: Type0 fonts carry
    2-byte codes mapped via ToUnicode (Identity fallback per code); simple
    fonts map byte codes through ToUnicode first (authoritative when
    present), then the /Encoding-derived map, then latin-1 (the pre-CMap
    behavior, bit-identical for classic fixtures)."""
    if font is None or (
        not font.two_byte and not font.cmap and not font.enc
    ):
        return raw.decode("latin-1")
    cmap = font.cmap or {}
    enc = font.enc or {}
    if font.two_byte:
        codes = [
            int.from_bytes(raw[i : i + 2], "big")
            for i in range(0, len(raw) - 1, 2)
        ]
    else:
        codes = list(raw)
    # Sentinel-based lookups: an explicit empty-string ToUnicode mapping
    # (glyph mapped to nothing, or malformed hex) is an authoritative
    # "emit nothing" — `or`-chaining would treat it as falsy and fall
    # through to /Encoding or chr(c), emitting a spurious character.
    out: list[str] = []
    for c in codes:
        v = cmap.get(c)
        if v is None:
            v = enc.get(c)
        out.append(chr(c) if v is None else v)
    return "".join(out)


def _stream_text(ops: bytes, fonts: dict[str, _Font] | None = None) -> str:
    """Assemble shown text from one content stream: collect the shown
    strings in order, decoding each through the font selected by the most
    recent ``Tf``; if the stream positions lines with Td/TD/T*, treat
    each show as one line (the layout simple PDF writers emit), otherwise
    concatenate (TJ kerning arrays)."""
    fonts = fonts or {}
    sels = [
        (m.start(), m.group(1).decode("latin-1"))
        for m in _FONTSEL_RE.finditer(ops)
    ]
    out: list[str] = []
    si, cur = 0, None
    for pos, raw, _op in _iter_strings(ops):
        while si < len(sels) and sels[si][0] < pos:
            cur = fonts.get(sels[si][1], cur)
            si += 1
        out.append(_decode_shown(raw, cur))
    if not out:
        return ""
    if _NEWLINE_OPS.search(ops):
        return "\n".join(out)
    return "".join(out)


def _stream_span(body: bytes) -> tuple[bytes, int, int] | None:
    """``(dict, start, end)`` of the stream payload in an object body, or
    None.  A direct ``/Length`` bounds the payload when ``endstream``
    follows it (PDF 32000-1 §7.3.8.1), so data ending in CR or LF keeps
    that byte; without a usable ``/Length`` (missing, indirect or wrong)
    the payload runs to the first EOL + ``endstream``."""
    head = _STREAM_HEAD_RE.search(body)
    if not head:
        return None
    d, start = head.group(1), head.end()
    ml = _LENGTH_RE.search(d)
    if ml and not ml.group(2):
        end = start + int(ml.group(1))
        if end <= len(body) and _STREAM_END_RE.match(body, end):
            return d, start, end
    m = _STREAM_RE.search(body, head.start())
    if not m:
        return None
    return m.group(1), m.start(2), m.end(2)


def _with_payload(
    body: bytes, span: tuple[bytes, int, int], data: bytes
) -> bytes:
    """``body`` with the stream payload at ``span`` replaced by ``data`` and
    a direct ``/Length`` rewritten to match."""
    _, start, end = span
    head = body[:start]
    ml = _LENGTH_RE.search(head)
    if ml and not ml.group(2):
        head = head[: ml.start(1)] + b"%d" % len(data) + head[ml.end(1) :]
    return head + data + body[end:]


def _expand_object_streams(objects: dict[int, bytes]) -> None:
    """Expand every ``/Type /ObjStm`` compressed object stream in-place.

    PDF 1.5+ (PDF 32000-1 §7.5.7): non-stream objects are packed inside a
    Flate-compressed stream object whose dict carries ``/N`` (count) and
    ``/First`` (byte offset of the first object body).  The decompressed
    payload starts with N ``objnum offset`` integer pairs; body i spans
    [First+offset_i, First+offset_{i+1}).  Contained objects (page dicts,
    catalog...) are added to ``objects``; existing top-level objects win
    (incremental updates append newer top-level definitions).
    """
    for body in list(objects.values()):
        if not re.search(rb"/Type\s*/ObjStm", body):
            continue
        span = _stream_span(body)
        if not span:
            continue
        d = span[0]
        data = _stream_of(body)
        if data is None:
            continue
        mn = re.search(rb"/N\s+(\d+)", d)
        mf = re.search(rb"/First\s+(\d+)", d)
        if not mn or not mf:
            continue
        n, first = int(mn.group(1)), int(mf.group(1))
        header = data[:first].split()
        if len(header) < 2 * n:
            continue
        pairs = [
            (int(header[2 * i]), int(header[2 * i + 1])) for i in range(n)
        ]
        for i, (num, off) in enumerate(pairs):
            end = pairs[i + 1][1] if i + 1 < len(pairs) else len(data) - first
            if num not in objects:
                objects[num] = data[first + off : first + end]


# ---------------------------------------------------------------------------
# Standard security handler (PDF 32000-1 §7.6): RC4 (V<=2), AES-128
# (/AESV2, V=4) and AES-256 (/AESV3, V=5 R=6) — the "restricted" PDFs
# that carry an owner password but an EMPTY user password, which viewers
# (and PDFBox in the reference, Function.java:90-132) open transparently.
# AES comes from the bundled pure-stdlib FIPS-197 implementation
# (sources/tinyaes.py, spec test vectors pinned).
# ---------------------------------------------------------------------------

_PW_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def _rc4(key: bytes, data: bytes) -> bytes:
    S = list(range(256))
    j = 0
    for i in range(256):
        j = (j + S[i] + key[i % len(key)]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for n, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[n] = c ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


def _pad_pw(pw: bytes) -> bytes:
    return (pw + _PW_PAD)[:32]


def _file_key(
    user_pw: bytes, o_entry: bytes, p: int, file_id: bytes, r: int, n: int
) -> bytes:
    """Algorithm 2: the file encryption key (n bytes)."""
    h = hashlib.md5()
    h.update(_pad_pw(user_pw))
    h.update(o_entry[:32])
    h.update((p & 0xFFFFFFFF).to_bytes(4, "little"))
    h.update(file_id)
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


def _object_key(file_key: bytes, num: int, gen: int) -> bytes:
    """Algorithm 1: the per-object RC4 key."""
    h = hashlib.md5(
        file_key + num.to_bytes(3, "little") + gen.to_bytes(2, "little")
    ).digest()
    return h[: min(len(file_key) + 5, 16)]


def _compute_o(owner_pw: bytes, user_pw: bytes, r: int, n: int) -> bytes:
    """Algorithm 3: the /O entry."""
    key = hashlib.md5(_pad_pw(owner_pw)).digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    key = key[:n]
    o = _rc4(key, _pad_pw(user_pw))
    if r >= 3:
        for i in range(1, 20):
            o = _rc4(bytes(b ^ i for b in key), o)
    return o


def _compute_u(file_key: bytes, file_id: bytes, r: int) -> bytes:
    """Algorithm 4 (r=2) / 5 (r>=3): the /U entry."""
    if r == 2:
        return _rc4(file_key, _PW_PAD)
    u = _rc4(file_key, hashlib.md5(_PW_PAD + file_id).digest())
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in file_key), u)
    return (u + b"\x00" * 16)[:32]


def _enc_string(enc: bytes, name: bytes) -> bytes | None:
    """A string entry (``/O``, ``/U``, ``/UE``...) from the Encrypt dict,
    hex or literal form."""
    m = re.search(rb"/" + name + rb"\s*([(<])", enc)
    if not m:
        return None
    if m.group(1) == b"<":
        he = enc.find(b">", m.end())
        return bytes.fromhex(enc[m.end() : he].decode("ascii", "ignore"))
    return _decode_literal(
        re.match(rb"(?s)((?:\\.|[^\\)])*)", enc[m.end() :]).group(1)
    )


def _hash_2b(pw: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """Algorithm 2.B (R=6 hardened hash, PDF 32000-2): the iterated
    SHA-256/384/512 + AES-128-CBC loop."""
    from . import tinyaes

    k = hashlib.sha256(pw + salt + udata).digest()
    i = 0
    while True:
        k1 = (pw + k + udata) * 64
        e = tinyaes.cbc_encrypt(k[:16], k[16:32], k1, pad=False)
        mod = int.from_bytes(e[:16], "big") % 3
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[mod](e).digest()
        if i >= 63 and e[-1] <= i - 32:
            return k[:32]
        i += 1


def _parse_encryption(
    content: bytes, objects: dict[int, bytes], password: bytes = b""
):
    """If the trailer names an /Encrypt dict this parser can handle
    (Standard handler: RC4, /AESV2, /AESV3), authenticate ``password``
    (tried as the USER password, then as the OWNER password, alongside
    the empty password — the common "restricted" shape) and return
    ``(mode, key)``; plain files return None; unsupported schemes and
    wrong passwords raise ValueError so the caller falls through to "no
    pages"."""
    m = re.search(rb"/Encrypt\s+(\d+)\s+\d+\s+R", content)
    if not m:
        return None
    enc = objects.get(int(m.group(1)))
    if enc is None:
        raise ValueError("Encrypt dict not found")
    if not re.search(rb"/Filter\s*/Standard", enc):
        raise ValueError("unsupported security handler")
    mv = re.search(rb"/V\s+(\d+)", enc)
    v = int(mv.group(1)) if mv else 0
    mr = re.search(rb"/R\s+(\d+)", enc)
    r = int(mr.group(1)) if mr else 2
    candidates = [password, b""] if password else [b""]

    if v == 5:  # AES-256, R=6 (PDF 2.0 / Acrobat X+)
        from . import tinyaes

        u = _enc_string(enc, b"U")
        ue = _enc_string(enc, b"UE")
        if not u or len(u) < 48 or not ue:
            raise ValueError("malformed AESV3 entries")
        vsalt, ksalt = u[32:40], u[40:48]
        for pw in candidates:  # Algorithm 2.A: user-password route
            if _hash_2b(pw, vsalt) == u[:32]:
                interm = _hash_2b(pw, ksalt)
                fkey = tinyaes.cbc_decrypt(
                    interm, b"\x00" * 16, ue, unpad=False
                )
                if len(fkey) != 32:
                    raise ValueError("malformed /UE")
                return ("aesv3", fkey)
        o = _enc_string(enc, b"O")
        oe = _enc_string(enc, b"OE")
        if o and len(o) >= 48 and oe:  # owner-password route (udata = /U)
            ovs, oks = o[32:40], o[40:48]
            for pw in candidates:
                if _hash_2b(pw, ovs, u[:48]) == o[:32]:
                    interm = _hash_2b(pw, oks, u[:48])
                    fkey = tinyaes.cbc_decrypt(
                        interm, b"\x00" * 16, oe, unpad=False
                    )
                    if len(fkey) != 32:
                        raise ValueError("malformed /OE")
                    return ("aesv3", fkey)
        raise ValueError("wrong or missing password (AESV3)")

    if v == 4:  # AES-128 (/AESV2) or RC4 via crypt filters
        if not re.search(rb"/CFM\s*/AESV2", enc):
            raise ValueError("unsupported V4 crypt filter")
        mode, n = "aesv2", 16
    elif v <= 2:
        mode = "rc4"
        mlen = re.search(rb"/Length\s+(\d+)", enc)
        n = (int(mlen.group(1)) // 8) if (mlen and v == 2) else 5
    else:
        raise ValueError(f"unsupported encryption V={v}")

    mp = re.search(rb"/P\s+(-?\d+)", enc)
    p = int(mp.group(1)) if mp else -1
    o_entry = _enc_string(enc, b"O")
    if o_entry is None:
        raise ValueError("missing /O entry")
    mid = re.search(rb"/ID\s*\[\s*<([0-9A-Fa-f]+)>", content)
    file_id = bytes.fromhex(mid.group(1).decode("ascii")) if mid else b""
    u_entry = _enc_string(enc, b"U")

    def verified(key: bytes) -> bool:
        # Algorithm 6: derive /U from the candidate key and compare —
        # full 32 bytes at r=2, first 16 at r>=3 (spec: remainder
        # arbitrary).  Files with no /U (out-of-spec) accept the first
        # candidate, preserving the pre-r04 best-effort behavior.
        if u_entry is None:
            return True
        want = _compute_u(key, file_id, r)
        return (
            want == u_entry[:32]
            if r == 2
            else want[:16] == (u_entry or b"")[:16]
        )

    for pw in candidates:  # user-password route (Algorithms 2+6)
        key = _file_key(pw, o_entry, p, file_id, r, n)
        if verified(key):
            return (mode, key)
    for pw in candidates:  # owner-password route (Algorithm 7)
        ok = hashlib.md5(_pad_pw(pw)).digest()
        if r >= 3:
            for _ in range(50):
                ok = hashlib.md5(ok[:n]).digest()
        ok = ok[:n]
        user_padded = o_entry[:32]
        if r >= 3:
            for i in range(19, 0, -1):
                user_padded = _rc4(
                    bytes(b ^ i for b in ok), user_padded
                )
            user_padded = _rc4(ok, user_padded)
        else:
            user_padded = _rc4(ok, user_padded)
        key = _file_key(user_padded[:32], o_entry, p, file_id, r, n)
        # _file_key pads; the recovered value IS already padded — re-pad
        # is a no-op at 32 bytes, so this matches Algorithm 7 exactly.
        if verified(key):
            return (mode, key)
    raise ValueError("wrong or missing password")


def _decrypt_payload(mode: str, file_key: bytes, num: int, data: bytes) -> bytes:
    if mode == "rc4":
        return _rc4(_object_key(file_key, num, 0), data)
    from . import tinyaes

    if mode == "aesv2":
        h = hashlib.md5(
            file_key
            + num.to_bytes(3, "little")
            + (0).to_bytes(2, "little")
            + b"sAlT"
        ).digest()
        key = h[: min(len(file_key) + 5, 16)]
    else:  # aesv3: the file key is used directly for every object
        key = file_key
    if len(data) < 16:
        return b""
    return tinyaes.cbc_decrypt(key, data[:16], data[16:])


def _decrypt_streams(
    objects: dict[int, bytes], mode: str, file_key: bytes
) -> None:
    """Decrypt every top-level stream payload in place (generation 0 —
    this parser's object scan keeps no generation numbers, and practically
    all writers emit gen 0).  The XRef stream is never encrypted per spec,
    but it is also never consumed here, so decrypting it is harmless."""
    for num, body in list(objects.items()):
        span = _stream_span(body)
        if not span:
            continue
        data = _decrypt_payload(mode, file_key, num, body[span[1] : span[2]])
        objects[num] = _with_payload(body, span, data)


def _unpredict(data: bytes, d: bytes) -> bytes | None:
    """Reverse a PNG predictor (``/DecodeParms << /Predictor >= 10
    /Columns n >>``, PDF 32000-1 §7.4.4.4): each row is prefixed with a
    per-row PNG filter byte (None/Sub/Up/Average/Paeth) applied over
    ``Columns * Colors * BitsPerComponent/8`` bytes.  Predictor 2 (TIFF)
    and 1 (none) are handled too; malformed geometry returns None."""
    mp = re.search(rb"/Predictor\s+(\d+)", d)
    pred = int(mp.group(1)) if mp else 1
    if pred <= 1:
        return data
    mc = re.search(rb"/Columns\s+(\d+)", d)
    cols = int(mc.group(1)) if mc else 1
    mcl = re.search(rb"/Colors\s+(\d+)", d)
    colors = int(mcl.group(1)) if mcl else 1
    mb = re.search(rb"/BitsPerComponent\s+(\d+)", d)
    bpc = int(mb.group(1)) if mb else 8
    bpp = max(1, colors * bpc // 8)
    rowlen = cols * bpp
    if rowlen <= 0:
        return None
    if pred == 2:  # TIFF horizontal differencing
        out = bytearray(data)
        for r0 in range(0, len(out) - rowlen + 1, rowlen):
            for i in range(bpp, rowlen):
                out[r0 + i] = (out[r0 + i] + out[r0 + i - bpp]) & 0xFF
        return bytes(out)
    # PNG predictors: rows of (filter_byte + rowlen payload)
    stride = rowlen + 1
    if len(data) % stride:
        return None
    out = bytearray()
    prev = bytearray(rowlen)
    for r0 in range(0, len(data), stride):
        ft = data[r0]
        row = bytearray(data[r0 + 1 : r0 + stride])
        for i in range(rowlen):
            left = row[i - bpp] if i >= bpp else 0
            up = prev[i]
            ul = prev[i - bpp] if i >= bpp else 0
            if ft == 1:
                row[i] = (row[i] + left) & 0xFF
            elif ft == 2:
                row[i] = (row[i] + up) & 0xFF
            elif ft == 3:
                row[i] = (row[i] + (left + up) // 2) & 0xFF
            elif ft == 4:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                if pa <= pb and pa <= pc:
                    row[i] = (row[i] + left) & 0xFF
                elif pb <= pc:
                    row[i] = (row[i] + up) & 0xFF
                else:
                    row[i] = (row[i] + ul) & 0xFF
            elif ft != 0:
                return None
        out += row
        prev = row
    return bytes(out)


def _stream_of(body: bytes) -> bytes | None:
    """The decoded stream payload of an object body, or None."""
    span = _stream_span(body)
    if not span:
        return None
    d, data = span[0], body[span[1] : span[2]]
    if b"/FlateDecode" in d:
        try:
            data = zlib.decompress(data)
        except zlib.error:
            return None
        if b"/Predictor" in d:
            return _unpredict(data, d)
    return data


def _balanced_dict(body: bytes, start: int) -> bytes:
    """The ``<< ... >>`` span starting at ``start`` (balanced nesting)."""
    depth, i, n = 0, start, len(body)
    while i < n - 1:
        pair = body[i : i + 2]
        if pair == b"<<":
            depth += 1
            i += 2
        elif pair == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return body[start:i]
        else:
            i += 1
    return body[start:]


def _dict_value(
    body: bytes, key: bytes, objects: dict[int, bytes]
) -> bytes | None:
    """The value of ``/key`` in ``body``: an indirect ``N 0 R`` reference
    resolves through ``objects``; an inline ``<< ... >>`` dict is returned
    as its balanced span."""
    if not body:
        return None
    m = re.search(rb"/" + key + rb"\s*(?:(\d+)\s+\d+\s+R|(<<))", body)
    if not m:
        return None
    if m.group(1):
        return objects.get(int(m.group(1)))
    return _balanced_dict(body, m.start(2))


_BFHEX = re.compile(rb"<([0-9A-Fa-f]+)>")


def _utf16be(hexs: bytes) -> str:
    try:
        return bytes.fromhex(hexs.decode("ascii")).decode(
            "utf-16-be", "replace"
        )
    except ValueError:
        return ""


def _parse_tounicode(data: bytes) -> dict[int, str]:
    """Parse a /ToUnicode CMap stream (PDF 32000-1 §9.10.3): ``bfchar``
    blocks of ``<src> <dstUTF16BE>`` pairs and ``bfrange`` blocks of
    ``<lo> <hi> <dstBase>`` (destination increments with the code) or
    ``<lo> <hi> [<dst> ...]`` (explicit per-code array)."""
    cmap: dict[int, str] = {}
    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
        toks = _BFHEX.findall(m.group(1))
        for src, dst in zip(toks[0::2], toks[1::2]):
            cmap[int(src, 16)] = _utf16be(dst)
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
        toks = re.findall(rb"<[0-9A-Fa-f]+>|\[|\]", m.group(1))
        i = 0
        while i + 1 < len(toks):
            if not (toks[i][:1] == b"<" and toks[i + 1][:1] == b"<"):
                i += 1
                continue
            lo, hi = int(toks[i][1:-1], 16), int(toks[i + 1][1:-1], 16)
            if i + 2 < len(toks) and toks[i + 2] == b"[":
                j, code = i + 3, lo
                while j < len(toks) and toks[j] != b"]":
                    if toks[j][:1] == b"<":
                        cmap[code] = _utf16be(toks[j][1:-1])
                        code += 1
                    j += 1
                i = j + 1
            elif i + 2 < len(toks) and toks[i + 2][:1] == b"<":
                dsthex = toks[i + 2][1:-1]
                width = len(dsthex)
                base = int(dsthex, 16)
                for k in range(hi - lo + 1):
                    h = ("%0*X" % (width, base + k)).encode("ascii")
                    cmap[lo + k] = _utf16be(h)
                i += 3
            else:
                i += 2
    return cmap


# ---------------------------------------------------------------------------
# Simple-font /Encoding support (PDF 32000-1 §9.6.5, Annex D).
#
# WinAnsiEncoding is Windows code page 1252 and MacRomanEncoding is the
# classic Mac OS Roman set for every code both define, so the tables are
# derived from Python's public codecs rather than transcribed; codes the
# codec leaves undefined simply stay absent and fall through to chr().
# ---------------------------------------------------------------------------


def _codec_table(codec: str) -> dict[int, str]:
    table: dict[int, str] = {}
    for c in range(32, 256):
        try:
            table[c] = bytes([c]).decode(codec)
        except UnicodeDecodeError:
            pass
    return table


_WINANSI = _codec_table("cp1252")
_MACROMAN = _codec_table("mac_roman")

# Adobe Glyph List subset for /Differences arrays: ASCII glyph names plus
# the typographic/accented names simple fonts actually remap.  Unknown
# names fall through (code keeps its base-encoding/chr meaning) — lossy
# but never wrong-shaped; /uniXXXX names resolve exactly.
_GLYPH_NAMES: dict[str, str] = {
    **{ch: ch for ch in "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"},
    **dict(
        zip(
            [
                "zero", "one", "two", "three", "four",
                "five", "six", "seven", "eight", "nine",
            ],
            "0123456789",
        )
    ),
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "bullet": "•", "dagger": "†", "daggerdbl": "‡",
    "emdash": "—", "endash": "–", "ellipsis": "…",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "fi": "ﬁ", "fl": "ﬂ", "Euro": "€",
    "trademark": "™", "copyright": "©", "registered": "®",
    "degree": "°", "plusminus": "±", "multiply": "×",
    "divide": "÷", "section": "§", "paragraph": "¶",
    "periodcentered": "·", "cent": "¢", "sterling": "£",
    "yen": "¥", "currency": "¤", "florin": "ƒ",
    "guillemotleft": "«", "guillemotright": "»",
    "guilsinglleft": "‹", "guilsinglright": "›",
    "exclamdown": "¡", "questiondown": "¿",
    "agrave": "à", "aacute": "á", "acircumflex": "â",
    "atilde": "ã", "adieresis": "ä", "aring": "å",
    "ae": "æ", "ccedilla": "ç", "egrave": "è",
    "eacute": "é", "ecircumflex": "ê", "edieresis": "ë",
    "igrave": "ì", "iacute": "í", "icircumflex": "î",
    "idieresis": "ï", "ntilde": "ñ", "ograve": "ò",
    "oacute": "ó", "ocircumflex": "ô", "otilde": "õ",
    "odieresis": "ö", "oslash": "ø", "ugrave": "ù",
    "uacute": "ú", "ucircumflex": "û", "udieresis": "ü",
    "yacute": "ý", "ydieresis": "ÿ", "germandbls": "ß",
    "Agrave": "À", "Aacute": "Á", "Adieresis": "Ä",
    "Aring": "Å", "AE": "Æ", "Ccedilla": "Ç",
    "Egrave": "È", "Eacute": "É", "Ntilde": "Ñ",
    "Odieresis": "Ö", "Oslash": "Ø", "Udieresis": "Ü",
    "OE": "Œ", "oe": "œ", "Scaron": "Š", "scaron": "š",
    "Ydieresis": "Ÿ", "Zcaron": "Ž", "zcaron": "ž",
    "dotlessi": "ı", "circumflex": "ˆ", "tilde": "˜",
    "macron": "¯", "breve": "˘", "dotaccent": "˙",
    "ring": "˚", "cedilla": "¸", "hungarumlaut": "˝",
    "ogonek": "˛", "caron": "ˇ", "brokenbar": "¦",
    "onequarter": "¼", "onehalf": "½", "threequarters": "¾",
    "onesuperior": "¹", "twosuperior": "²",
    "threesuperior": "³", "mu": "µ", "middot": "·",
    "nbspace": " ", "perthousand": "‰", "minus": "−",
    "fraction": "⁄", "logicalnot": "¬", "ordfeminine": "ª",
    "ordmasculine": "º", "dieresis": "¨", "acute": "´",
    "eth": "ð", "Eth": "Ð", "thorn": "þ", "Thorn": "Þ",
}

_UNI_GLYPH = re.compile(r"uni([0-9A-Fa-f]{4})$")


def _glyph_char(gname: str) -> str | None:
    hit = _GLYPH_NAMES.get(gname)
    if hit is not None:
        return hit
    m = _UNI_GLYPH.match(gname)
    if m:
        return chr(int(m.group(1), 16))
    return None


def _base_encoding(name: bytes) -> dict[int, str] | None:
    if name == b"WinAnsiEncoding":
        return dict(_WINANSI)
    if name == b"MacRomanEncoding":
        return dict(_MACROMAN)
    # StandardEncoding / PDFDocEncoding / MacExpertEncoding: no table —
    # chr() fallback is the closest behavior for their ASCII core.
    return None


def _parse_encoding(fbody: bytes, objects: dict[int, bytes]) -> dict[int, str] | None:
    """Resolve a simple font's /Encoding entry to a code->char map: a bare
    base-encoding name, or an encoding dict (possibly indirect) carrying
    /BaseEncoding and a /Differences array of ``code /name /name ...``
    runs.

    Return contract (ADVICE r7): ``None`` means /Encoding is truly
    ABSENT — only then may the caller fall back to the embedded font
    program's private encoding; an /Encoding that is PRESENT but carries
    no usable table (bare /StandardEncoding, a dict whose glyph names
    all fail :func:`_glyph_char`, a dangling indirect ref) returns the
    EMPTY dict sentinel, which keeps the PDF-side precedence of
    PDF 32000-1 §9.6.6 (the decode path then uses latin-1/chr — correct
    for StandardEncoding's ASCII core) instead of letting the font's
    private encoding silently override an explicit PDF-side choice."""
    m = re.search(
        rb"/Encoding\s*(?:/([A-Za-z]+)|(\d+)\s+\d+\s+R|(<<))", fbody
    )
    if not m:
        return None
    if m.group(1):
        return _base_encoding(m.group(1)) or {}
    if m.group(2):
        ebody = objects.get(int(m.group(2)), b"")
    else:
        ebody = _balanced_dict(fbody, m.start(3))
    enc: dict[int, str] = {}
    bm = re.search(rb"/BaseEncoding\s*/([A-Za-z]+)", ebody)
    if bm:
        enc = _base_encoding(bm.group(1)) or {}
    dm = re.search(rb"/Differences\s*\[(.*?)\]", ebody, re.S)
    if dm:
        code = 0
        for tok in re.finditer(rb"(\d+)|/([A-Za-z0-9._]+)", dm.group(1)):
            if tok.group(1):
                code = int(tok.group(1))
            else:
                ch = _glyph_char(tok.group(2).decode("latin-1"))
                if ch is not None:
                    enc[code] = ch
                code += 1
    # {} (not None) when nothing mapped: /Encoding IS present — the
    # empty sentinel blocks the CFF-internal-encoding fallback.
    return enc


# ---------------------------------------------------------------------------
# Embedded TrueType ``cmap`` fallback for Type0 fonts WITHOUT /ToUnicode
# (PDF 32000-1 §9.7.4.2 + §9.10.2; OpenType spec, `cmap` table).  Some
# writers omit the ToUnicode CMap; the reference's extractor (PDFBox, via
# BlobUploadDetector/.../Function.java:94) still recovers text by
# consulting the embedded font program: /Identity-H makes code == CID,
# /CIDToGIDMap (default Identity) makes CID -> glyph id, and INVERTING the
# font's unicode cmap subtable (glyph id -> unicode) completes
# code -> text.  Formats 4 (segmented), 12 (grouped), 6 (trimmed) and 0
# (byte table) cover effectively all unicode subtables in the wild.
# ---------------------------------------------------------------------------


def _u16(b: bytes, o: int) -> int:
    return int.from_bytes(b[o : o + 2], "big")


def _u32(b: bytes, o: int) -> int:
    return int.from_bytes(b[o : o + 4], "big")


_SFNT_MAX_CHARS = 1 << 17  # malformed-table blowup guard


def _parse_cmap_subtable(sub: bytes) -> dict[int, int]:
    """unicode -> glyph id from one cmap subtable (format 0/4/6/12);
    malformed tables yield whatever prefix parses — extraction is
    best-effort by contract."""
    out: dict[int, int] = {}
    if len(sub) < 4:
        return out
    fmt = _u16(sub, 0)
    try:
        if fmt == 0:
            for code, gid in enumerate(sub[6 : 6 + 256]):
                if gid:
                    out[code] = gid
        elif fmt == 4:
            segx2 = _u16(sub, 6)
            seg = segx2 // 2
            ends = [_u16(sub, 14 + 2 * i) for i in range(seg)]
            starts = [_u16(sub, 16 + segx2 + 2 * i) for i in range(seg)]
            deltas = [_u16(sub, 16 + 2 * segx2 + 2 * i) for i in range(seg)]
            ro_base = 16 + 3 * segx2
            for i in range(seg):
                s, e = starts[i], ends[i]
                if s == 0xFFFF:
                    continue
                ro = _u16(sub, ro_base + 2 * i)
                for c in range(s, min(e, 0xFFFE) + 1):
                    if ro == 0:
                        gid = (c + deltas[i]) & 0xFFFF
                    else:
                        at = ro_base + 2 * i + ro + 2 * (c - s)
                        if at + 2 > len(sub):
                            break
                        gid = _u16(sub, at)
                        if gid:
                            gid = (gid + deltas[i]) & 0xFFFF
                    if gid:
                        out[c] = gid
                    if len(out) >= _SFNT_MAX_CHARS:
                        return out
        elif fmt == 6:
            first, count = _u16(sub, 6), _u16(sub, 8)
            for i in range(min(count, _SFNT_MAX_CHARS)):
                gid = _u16(sub, 10 + 2 * i)
                if gid:
                    out[first + i] = gid
        elif fmt == 12:
            ngroups = _u32(sub, 12)
            for g in range(ngroups):
                o = 16 + 12 * g
                if o + 12 > len(sub):
                    break
                sc, ec, sg = _u32(sub, o), _u32(sub, o + 4), _u32(sub, o + 8)
                for k in range(min(ec - sc + 1, _SFNT_MAX_CHARS)):
                    out[sc + k] = sg + k
                    if len(out) >= _SFNT_MAX_CHARS:
                        return out
    except (IndexError, ValueError):
        pass
    return out


def _sfnt_unicode_cmap(data: bytes) -> dict[int, int] | None:
    """unicode -> glyph id from an sfnt font program (TrueType, or
    OpenType/CFF — the ``cmap`` table is format-identical), preferring the
    full-repertoire subtables: (3,10)/(0,4+) format 12 over the BMP
    (3,1)/(0,<=3) format 4."""
    if len(data) < 12 or data[:4] not in (
        b"\x00\x01\x00\x00",
        b"OTTO",
        b"true",
    ):
        return None
    ntab = _u16(data, 4)
    cmap_off = None
    for i in range(ntab):
        rec = 12 + 16 * i
        if rec + 16 > len(data):
            return None
        if data[rec : rec + 4] == b"cmap":
            cmap_off = _u32(data, rec + 8)
            break
    if cmap_off is None or cmap_off + 4 > len(data):
        return None
    tab = data[cmap_off:]
    n_sub = _u16(tab, 2)
    best, best_rank = None, -1
    for i in range(n_sub):
        o = 4 + 8 * i
        if o + 8 > len(tab):
            break
        plat, enc, off = _u16(tab, o), _u16(tab, o + 2), _u32(tab, o + 4)
        rank = {
            (3, 10): 5,
            (0, 6): 5,
            (0, 4): 5,
            (3, 1): 4,
            (0, 3): 3,
            (0, 2): 2,
            (0, 1): 2,
            (0, 0): 2,
        }.get((plat, enc), -1)
        if rank > best_rank and off < len(tab):
            best, best_rank = off, rank
    if best is None:
        return None
    mapped = _parse_cmap_subtable(tab[best:])
    return mapped or None


# ---------------------------------------------------------------------------
# Bare-CFF charset fallback (Adobe CFF spec, TN #5176) — the last common
# text-recovery miss vs PDFBox's font machinery (reference
# BlobUploadDetector/.../Function.java:94): an embedded /FontFile3 that is
# a BARE CFF (PDF stream /Subtype /Type1C or /CIDFontType0C) has NO sfnt
# wrapper and therefore no ``cmap`` table at all, and an OpenType/CFF may
# legally omit the unicode subtables.  For NAME-KEYED CFFs the font's own
# ``charset`` maps every glyph id to a glyph-name SID and its ``Encoding``
# maps byte codes to glyph ids — composing them with the Adobe-Glyph-List
# table above recovers text with no unicode table anywhere.
#
# CID-keyed CFFs (Top DICT carries ROS) are a DOCUMENTED REFUSAL, pinned
# end-to-end (VERDICT r7 next-round #6): their charset maps glyph -> CID,
# not glyph -> name, so there is structurally nothing for the glyph-name
# route to recover.  For /Ordering (Identity) the CID number carries no
# unicode semantics at all (it is whatever the writer assigned), and for
# registry orderings (Adobe-Japan1/GB1/CNS1/KR/Korea1) CID -> unicode
# requires Adobe's external CMap resource files — multi-megabyte tables
# the reference only survives via PDFBox bundling them, out of scope for
# a dependency-free extractor.  Every real writer of CID-keyed fonts
# either emits /ToUnicode (authoritative, handled) or wraps the CFF in
# an OpenType with a unicode ``cmap`` (handled); the remaining case
# keeps the per-code identity fall-through, crash-free and test-pinned
# (tests/test_minipdf.py::test_cid_keyed_bare_cff_refusal_end_to_end).
# ---------------------------------------------------------------------------

# CFF standard strings, SIDs 0-228 (spec Appendix A) — the text-bearing
# core (ISOAdobe charset).  SIDs 229-390 are the Expert set (small-caps /
# oldstyle figure variants with no direct unicode in _GLYPH_NAMES), left
# unmapped on purpose: they fall through exactly like any other unknown
# glyph name.  Custom strings start at SID 391.
_CFF_STD_STRINGS: tuple[str, ...] = (
    ".notdef", "space", "exclam", "quotedbl", "numbersign", "dollar",
    "percent", "ampersand", "quoteright", "parenleft", "parenright",
    "asterisk", "plus", "comma", "hyphen", "period", "slash",
    "zero", "one", "two", "three", "four", "five", "six", "seven",
    "eight", "nine", "colon", "semicolon", "less", "equal", "greater",
    "question", "at",
    *list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"),
    "bracketleft", "backslash", "bracketright", "asciicircum",
    "underscore", "quoteleft",
    *list("abcdefghijklmnopqrstuvwxyz"),
    "braceleft", "bar", "braceright", "asciitilde", "exclamdown", "cent",
    "sterling", "fraction", "yen", "florin", "section", "currency",
    "quotesingle", "quotedblleft", "guillemotleft", "guilsinglleft",
    "guilsinglright", "fi", "fl", "endash", "dagger", "daggerdbl",
    "periodcentered", "paragraph", "bullet", "quotesinglbase",
    "quotedblbase", "quotedblright", "guillemotright", "ellipsis",
    "perthousand", "questiondown", "grave", "acute", "circumflex",
    "tilde", "macron", "breve", "dotaccent", "dieresis", "ring",
    "cedilla", "hungarumlaut", "ogonek", "caron", "emdash", "AE",
    "ordfeminine", "Lslash", "Oslash", "OE", "ordmasculine", "ae",
    "dotlessi", "lslash", "oslash", "oe", "germandbls", "onesuperior",
    "logicalnot", "mu", "trademark", "Eth", "onehalf", "plusminus",
    "Thorn", "onequarter", "divide", "brokenbar", "degree", "thorn",
    "threequarters", "twosuperior", "registered", "minus", "eth",
    "multiply", "threesuperior", "copyright", "Aacute", "Acircumflex",
    "Adieresis", "Agrave", "Aring", "Atilde", "Ccedilla", "Eacute",
    "Ecircumflex", "Edieresis", "Egrave", "Iacute", "Icircumflex",
    "Idieresis", "Igrave", "Ntilde", "Oacute", "Ocircumflex",
    "Odieresis", "Ograve", "Otilde", "Scaron", "Uacute", "Ucircumflex",
    "Udieresis", "Ugrave", "Yacute", "Ydieresis", "Zcaron", "aacute",
    "acircumflex", "adieresis", "agrave", "aring", "atilde", "ccedilla",
    "eacute", "ecircumflex", "edieresis", "egrave", "iacute",
    "icircumflex", "idieresis", "igrave", "ntilde", "oacute",
    "ocircumflex", "odieresis", "ograve", "otilde", "scaron", "uacute",
    "ucircumflex", "udieresis", "ugrave", "yacute", "ydieresis",
    "zcaron",
)


def _cff_index(data: bytes, off: int) -> tuple[list[bytes], int] | None:
    """Parse one CFF INDEX at ``off``: (items, offset-past-the-INDEX), or
    None on a malformed structure (caller falls through)."""
    if off + 2 > len(data):
        return None
    count = _u16(data, off)
    if count == 0:
        return [], off + 2
    if off + 3 > len(data):
        return None
    osz = data[off + 2]
    if not 1 <= osz <= 4:
        return None
    p = off + 3
    if p + (count + 1) * osz > len(data):
        return None
    offs = []
    for _ in range(count + 1):
        v = 0
        for b in data[p : p + osz]:
            v = (v << 8) | b
        offs.append(v)
        p += osz
    base = p - 1
    if offs[0] != 1 or any(
        offs[i] > offs[i + 1] for i in range(count)
    ) or base + offs[-1] > len(data):
        return None
    items = [data[base + offs[i] : base + offs[i + 1]] for i in range(count)]
    return items, base + offs[-1]


def _cff_dict(data: bytes) -> dict[int, list[float]]:
    """CFF DICT -> {operator: operands}; two-byte escape operators are
    keyed as 1200+b1.  Real-number operands parse loosely (this module
    only consumes integer offsets)."""
    out: dict[int, list[float]] = {}
    operands: list[float] = []
    i = 0
    while i < len(data):
        b0 = data[i]
        if b0 <= 21:
            op, i = b0, i + 1
            if b0 == 12:
                if i >= len(data):
                    break
                op, i = 1200 + data[i], i + 1
            out[op] = operands
            operands = []
        elif b0 == 28 and i + 3 <= len(data):
            operands.append(int.from_bytes(data[i + 1 : i + 3], "big", signed=True))
            i += 3
        elif b0 == 29 and i + 5 <= len(data):
            operands.append(int.from_bytes(data[i + 1 : i + 5], "big", signed=True))
            i += 5
        elif b0 == 30:
            i += 1
            s = ""
            while i < len(data):
                hi, lo = data[i] >> 4, data[i] & 15
                i += 1
                done = False
                for nib in (hi, lo):
                    if nib <= 9:
                        s += str(nib)
                    elif nib == 10:
                        s += "."
                    elif nib == 11:
                        s += "E"
                    elif nib == 12:
                        s += "E-"
                    elif nib == 14:
                        s += "-"
                    elif nib == 15:
                        done = True
                        break
                if done:
                    break
            try:
                operands.append(float(s or "0"))
            except ValueError:
                operands.append(0.0)
        elif 32 <= b0 <= 246:
            operands.append(b0 - 139)
            i += 1
        elif 247 <= b0 <= 250 and i + 2 <= len(data):
            operands.append((b0 - 247) * 256 + data[i + 1] + 108)
            i += 2
        elif 251 <= b0 <= 254 and i + 2 <= len(data):
            operands.append(-(b0 - 251) * 256 - data[i + 1] - 108)
            i += 2
        else:
            i += 1  # reserved byte: skip, stay robust
    return out


def _cff_charset_sids(
    data: bytes, off: int, nglyphs: int
) -> list[int] | None:
    """gid -> SID from the charset at ``off`` (formats 0/1/2).  Offset 0
    is the predefined ISOAdobe charset (SID i for gid i); the Expert
    predefined charsets (1/2) carry no recoverable text names here."""
    if off == 0:
        return list(range(min(nglyphs, len(_CFF_STD_STRINGS))))
    if off in (1, 2) or off >= len(data):
        return None
    fmt = data[off]
    sids = [0]  # gid 0 is always .notdef
    p = off + 1
    if fmt == 0:
        while len(sids) < nglyphs:
            if p + 2 > len(data):
                return None
            sids.append(_u16(data, p))
            p += 2
    elif fmt in (1, 2):
        step = 3 if fmt == 1 else 4
        while len(sids) < nglyphs:
            if p + step > len(data):
                return None
            first = _u16(data, p)
            nleft = data[p + 2] if fmt == 1 else _u16(data, p + 2)
            p += step
            for k in range(nleft + 1):
                if len(sids) >= nglyphs:
                    break
                sids.append(first + k)
    else:
        return None
    return sids


def _cff_encoding_codes(data: bytes, off: int) -> dict[int, int] | None:
    """code -> gid from a CUSTOM Encoding at ``off`` (formats 0/1).
    Predefined encodings (offset 0 Standard / 1 Expert) return None —
    for them the existing /Encoding + latin-1 fall-through already
    matches the ASCII core, and overriding it would change decoded
    bytes for classic fixtures.  Supplement entries (high bit of the
    format byte) map extra codes by SID, not gid — skipped; those codes
    keep the fall-through behavior."""
    if off in (0, 1) or off >= len(data):
        return None
    fmt = data[off] & 0x7F
    out: dict[int, int] = {}
    p = off + 1
    if fmt == 0:
        if p >= len(data):
            return None
        ncodes = data[p]
        p += 1
        for gid in range(1, ncodes + 1):
            if p >= len(data):
                return None
            out[data[p]] = gid
            p += 1
    elif fmt == 1:
        if p >= len(data):
            return None
        nranges = data[p]
        p += 1
        gid = 1
        for _ in range(nranges):
            if p + 2 > len(data):
                return None
            first, nleft = data[p], data[p + 1]
            p += 2
            for k in range(nleft + 1):
                out[first + k] = gid
                gid += 1
    else:
        return None
    return out or None


def _cff_maps(
    prog: bytes,
) -> tuple[dict[int, str], dict[int, str]] | None:
    """(gid -> unicode, code -> unicode) recovered from a bare CFF font
    program's charset (+ custom Encoding).  None for CID-keyed CFFs
    (charset holds CIDs, not names) and anything malformed — callers
    fall through to the identity behavior."""
    if len(prog) < 4 or prog[0] != 1:
        return None
    r = _cff_index(prog, prog[2])  # Name INDEX at hdrSize
    if r is None:
        return None
    _names, p = r
    r = _cff_index(prog, p)  # Top DICT INDEX
    if r is None:
        return None
    tds, p = r
    if not tds:
        return None
    top = _cff_dict(tds[0])
    r = _cff_index(prog, p)  # String INDEX
    if r is None:
        return None
    strings, _ = r
    if 1230 in top:  # ROS -> CID-keyed
        return None
    if 17 not in top or not top[17]:
        return None
    r = _cff_index(prog, int(top[17][0]))  # CharStrings INDEX
    if r is None:
        return None
    charstrings, _ = r
    nglyphs = len(charstrings)
    ch_off = int(top.get(15, [0])[0]) if top.get(15) else 0
    sids = _cff_charset_sids(prog, ch_off, nglyphs)
    if sids is None:
        return None

    def sid_name(s: int) -> str | None:
        if s < len(_CFF_STD_STRINGS):
            return _CFF_STD_STRINGS[s]
        cu = s - 391
        if 0 <= cu < len(strings):
            return strings[cu].decode("latin-1")
        return None

    gid2uni: dict[int, str] = {}
    for g, s in enumerate(sids):
        nm = sid_name(s)
        ch = _glyph_char(nm) if nm else None
        if ch is not None:
            gid2uni[g] = ch
    code2uni: dict[int, str] = {}
    enc_off = int(top.get(16, [0])[0]) if top.get(16) else 0
    code2gid = _cff_encoding_codes(prog, enc_off)
    if code2gid:
        for c, g in code2gid.items():
            ch = gid2uni.get(g)
            if ch is not None:
                code2uni[c] = ch
    return gid2uni, code2uni


def _sfnt_table(data: bytes, tag: bytes) -> bytes | None:
    """Payload of one sfnt table (used to pull ``CFF `` out of an
    OpenType/CFF whose cmap is absent)."""
    if len(data) < 12 or data[:4] not in (
        b"\x00\x01\x00\x00",
        b"OTTO",
        b"true",
    ):
        return None
    for i in range(_u16(data, 4)):
        rec = 12 + 16 * i
        if rec + 16 > len(data):
            return None
        if data[rec : rec + 4] == tag:
            off, ln = _u32(data, rec + 8), _u32(data, rec + 12)
            if off + ln <= len(data):
                return data[off : off + ln]
            return None
    return None


def _cid_to_gid_stream(desc: bytes, objects: dict[int, bytes]) -> bytes | None:
    """The /CIDToGIDMap stream payload (2 big-endian bytes per CID), or
    None for the default /Identity (or an unreadable stream)."""
    m = re.search(rb"/CIDToGIDMap\s+(\d+)\s+\d+\s+R", desc)
    if not m:
        return None
    return _stream_of(objects.get(int(m.group(1)), b""))


def _type0_embedded_cmap(
    fbody: bytes, objects: dict[int, bytes]
) -> dict[int, str] | None:
    """code -> unicode for a Type0 font without /ToUnicode, recovered from
    the descendant's embedded font program (see section comment).  Returns
    None when there is no parseable embedded font — the caller falls back
    to per-code identity exactly as before."""
    desc = _dict_value(fbody, b"DescendantFonts", objects)
    if desc is None:
        m = re.search(
            rb"/DescendantFonts\s*\[\s*(\d+)\s+\d+\s+R", fbody
        )
        if not m:
            return None
        desc = objects.get(int(m.group(1)))
    else:
        m = re.search(rb"^\s*\[?\s*(\d+)\s+\d+\s+R", desc)
        if m and b"/Type" not in desc[: m.end()]:
            desc = objects.get(int(m.group(1)), desc)
    if not desc:
        return None
    fd = _dict_value(desc, b"FontDescriptor", objects)
    if not fd:
        return None
    prog = None
    for key in (b"FontFile2", b"FontFile3"):
        fm = re.search(rb"/" + key + rb"\s+(\d+)\s+\d+\s+R", fd)
        if fm:
            prog = _stream_of(objects.get(int(fm.group(1)), b""))
            if prog:
                break
    if not prog:
        return None
    uni2gid = _sfnt_unicode_cmap(prog)
    if uni2gid:
        # Invert deterministically: when several unicodes share a glyph
        # the LOWEST code point wins (ligature/variant glyphs resolve to
        # the canonical character).
        gid2uni: dict[int, str] = {}
        for uni in sorted(uni2gid):
            gid = uni2gid[uni]
            if gid not in gid2uni:
                gid2uni[gid] = chr(uni)
    else:
        # No sfnt cmap: a bare CFF (/Type1C — FontFile3 carries no sfnt
        # wrapper at all) or an OpenType/CFF without unicode subtables.
        # Recover glyph names from the CFF charset instead (section
        # comment above _CFF_STD_STRINGS).
        maps = _cff_maps(_sfnt_table(prog, b"CFF ") or prog)
        if maps is None or not maps[0]:
            return None
        gid2uni = maps[0]
    c2g = _cid_to_gid_stream(desc, objects)
    if c2g is None:
        return gid2uni
    out: dict[int, str] = {}
    for cid in range(len(c2g) // 2):
        v = gid2uni.get(_u16(c2g, 2 * cid))
        if v is not None:
            out[cid] = v
    return out or None


def _simple_font_cff_encoding(
    fbody: bytes, objects: dict[int, bytes]
) -> dict[int, str] | None:
    """code -> unicode for a SIMPLE font with neither /ToUnicode nor a
    usable /Encoding, recovered from its embedded bare-CFF program's own
    Encoding + charset (/FontFile3, /Subtype /Type1C) — the symbolic-
    Type1C case where byte codes are font-private and the latin-1
    fall-through is wrong for every remapped code."""
    fd = _dict_value(fbody, b"FontDescriptor", objects)
    if not fd:
        return None
    fm = re.search(rb"/FontFile3\s+(\d+)\s+\d+\s+R", fd)
    if not fm:
        return None
    prog = _stream_of(objects.get(int(fm.group(1)), b""))
    if not prog:
        return None
    maps = _cff_maps(_sfnt_table(prog, b"CFF ") or prog)
    if maps is None:
        return None
    return maps[1] or None


def _page_fonts(
    page_body: bytes, objects: dict[int, bytes]
) -> dict[str, _Font]:
    """Resolve the page's /Resources -> /Font map to per-name decoders:
    Type0 subtype => 2-byte CID codes; a /ToUnicode stream (indirect)
    parses to the code->Unicode map."""
    resources = _dict_value(page_body, b"Resources", objects)
    fontdict = _dict_value(resources or b"", b"Font", objects)
    fonts: dict[str, _Font] = {}
    if not fontdict:
        return fonts
    for m in re.finditer(
        rb"/([A-Za-z0-9.+-]+)\s+(?:(\d+)\s+\d+\s+R|(<<))", fontdict
    ):
        name = m.group(1).decode("latin-1")
        if m.group(2):
            fbody = objects.get(int(m.group(2)), b"")
        else:
            fbody = _balanced_dict(fontdict, m.start(3))
        if not re.search(rb"/Type\s*/Font", fbody):
            continue
        two_byte = bool(re.search(rb"/Subtype\s*/Type0", fbody))
        cmap = None
        tu = re.search(rb"/ToUnicode\s+(\d+)\s+\d+\s+R", fbody)
        if tu:
            data = _stream_of(objects.get(int(tu.group(1)), b""))
            if data:
                cmap = _parse_tounicode(data)
        if two_byte and not cmap:
            # No ToUnicode — or one that parsed to NOTHING (truncated/
            # malformed CMap stream): recover code->text from the
            # embedded font program's unicode cmap.  An empty dict holds
            # zero authoritative mappings, so falling through loses
            # nothing (per-code empty-string entries, the authoritative
            # "emit nothing" sentinel, make the dict truthy and are NOT
            # overridden).  Simple fonts keep their /Encoding + latin-1
            # fallback — for them the byte code already IS the
            # standard-encoding character in every non-symbolic layout.
            cmap = _type0_embedded_cmap(fbody, objects)
        enc = None if two_byte else _parse_encoding(fbody, objects)
        if not two_byte and cmap is None and enc is None:
            # Simple font with no ToUnicode and no /Encoding: its
            # embedded Type1C program may carry its own code->glyph
            # Encoding + charset (custom/symbolic layouts where latin-1
            # is wrong).  A PDF-side /Encoding, when present, keeps
            # precedence per PDF 32000-1 §9.6.6.
            enc = _simple_font_cff_encoding(fbody, objects)
        fonts[name] = _Font(two_byte, cmap, enc)
    return fonts


def extract_text_pages(
    content: bytes, password: bytes = b""
) -> list[str] | None:
    """Per-page text from a simple real PDF (classic or 1.5+ object-stream
    layout; simple or Type0/ToUnicode fonts), or ``None`` if ``content``
    is not parseable as one (the document source then yields no pages).
    ``password`` is tried as the user then the owner password of an
    encrypted file (alongside the empty password); a wrong password falls
    through to None like any other unreadable file."""
    if content is None or not content.startswith(b"%PDF-"):
        return None
    objects: dict[int, bytes] = {
        int(m.group(1)): m.group(2) for m in _OBJ_RE.finditer(content)
    }
    if not objects:
        return None
    try:
        enc_info = _parse_encryption(content, objects, password)
    except ValueError:
        # Non-standard handlers / real user passwords / malformed
        # entries: not parseable here — same contract as any other
        # unreadable file.
        return None
    if enc_info is not None:
        _decrypt_streams(objects, *enc_info)
    _expand_object_streams(objects)

    pages: list[str] = []
    for num in sorted(objects):
        body = objects[num]
        if not _PAGE_RE.search(body):
            continue
        fonts = _page_fonts(body, objects)
        texts: list[str] = []
        for m in _CONTENTS_RE.finditer(body):
            ref = int(m.group(1))
            data = _stream_of(objects.get(ref, b""))
            if data:
                texts.append(_stream_text(data, fonts))
        pages.append("\n".join(t for t in texts if t))
    return pages if pages else None


def _escape_bytes(b: bytes) -> bytes:
    return b.replace(b"\\", rb"\\").replace(b"(", rb"\(").replace(b")", rb"\)")


def _escape_literal(s: str) -> bytes:
    return _escape_bytes(s.encode("latin-1", "replace"))


# --- fixture writers -------------------------------------------------------
# Every writer emits the same skeleton: 1 catalog, 2 page tree, its font
# objects from 3, then one page/content pair per page; the writers differ
# only in the font objects and in how a line becomes a ``Tj`` operand.

_HELVETICA = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"


def _norm_pages(pages: list[list[str]] | list[str]) -> list[list[str]]:
    """One list of lines per page; a str page is split on newlines."""
    return [p.split("\n") if isinstance(p, str) else list(p) for p in pages]


def _char_codes(norm: list[list[str]], first: int) -> dict[str, int]:
    """Sequential code per distinct character, in document order."""
    codes: dict[str, int] = {}
    for lines in norm:
        for line in lines:
            for ch in line:
                codes.setdefault(ch, len(codes) + first)
    return codes


def _flate_stream(raw: bytes, head: bytes = b"", tail: bytes = b"") -> bytes:
    """A Flate stream object body; ``head``/``tail`` are dict keys written
    before ``/Length`` and after ``/Filter``."""
    data = zlib.compress(raw)
    return (
        b"<< %s/Length %d /Filter /FlateDecode%s >>\nstream\n"
        % (head, len(data), tail)
        + data
        + b"\nendstream"
    )


def _page_tree(norm: list[list[str]], fonts: list[bytes], show) -> list[bytes]:
    """Object bodies numbered from 1: catalog, page tree, ``fonts`` (the
    page font ``/F1`` is object 3), then each page and its content stream.
    ``show`` maps one line to its ``Tj`` operand."""
    kids = [3 + len(fonts) + 2 * i for i in range(len(norm))]
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids ["
        + b" ".join(b"%d 0 R" % k for k in kids)
        + b"] /Count %d >>" % len(norm),
        *fonts,
    ]
    for kid, lines in zip(kids, norm):
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents %d 0 R >>"
            % (kid + 1)
        )
        shown = b"0 -14 Td\n".join(show(line) + b" Tj\n" for line in lines)
        objs.append(_flate_stream(b"BT /F1 12 Tf 72 720 Td\n" + shown + b"ET"))
    return objs


def _classic_file(objs: list[bytes], trailer: bytes = b"") -> bytes:
    """Classic-layout file: ``objs`` numbered from 1, an xref table, and a
    trailer dict ending in ``trailer``."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for n, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % n + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    out += b"".join(b"%010d 00000 n \n" % off for off in offsets)
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R%s >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, trailer, xref_at)
    )
    return bytes(out)


def _literal_show(line: str) -> bytes:
    return b"(" + _escape_literal(line) + b")"


def _hex_show(codes: dict[str, int], fmt: bytes):
    return lambda line: b"<" + b"".join(fmt % codes[ch] for ch in line) + b">"


def make_pdf(pages: list[list[str]] | list[str]) -> bytes:
    """Write a real, valid, Flate-compressed PDF — one page per entry; an
    entry may be a single string (split on newlines) or a list of lines."""
    norm = _norm_pages(pages)
    return _classic_file(_page_tree(norm, [_HELVETICA], _literal_show))


def make_pdf_encoded(
    pages: list[list[str]] | list[str],
    base: str | None = "WinAnsiEncoding",
    differences: dict[int, str] | None = None,
) -> bytes:
    """Write a real PDF whose simple font has NO /ToUnicode and declares
    ``/Encoding`` instead — a bare base-encoding name, or an encoding dict
    with ``/BaseEncoding`` + ``/Differences`` when ``differences`` maps
    byte codes to glyph NAMES (e.g. ``{136: "bullet"}``).  Text is encoded
    through the inverse of that table, so extraction must apply the
    encoding to round-trip — the shape PDFBox handles for fonts without
    ToUnicode (reference Function.java:90-132) that minipdf previously
    read as latin-1."""
    table: dict[int, str] = dict(
        _base_encoding(base.encode("ascii")) or {} if base else {}
    )
    for code, gname in (differences or {}).items():
        ch = _glyph_char(gname)
        if ch is None:
            raise ValueError(f"unknown glyph name {gname!r}")
        table[code] = ch
    inverse: dict[str, int] = {}
    for code, ch in sorted(table.items()):
        inverse.setdefault(ch, code)

    def show(line: str) -> bytes:
        out = bytearray()
        for ch in line:
            code = inverse.get(ch)
            if code is None:
                if ord(ch) < 128:
                    code = ord(ch)  # ASCII is identity in both bases
                else:
                    raise ValueError(
                        f"character {ch!r} not reachable through this"
                        " encoding"
                    )
            out.append(code)
        return b"(" + _escape_bytes(bytes(out)) + b")"

    if differences:
        diffs = bytearray(b"/Differences [")
        for code in sorted(differences):
            diffs += b" %d /%s" % (code, differences[code].encode("ascii"))
        diffs += b" ]"
        encent = b"/Encoding << "
        if base:
            encent += b"/BaseEncoding /%s " % base.encode("ascii")
        encent += bytes(diffs) + b" >>"
    elif base:
        encent = b"/Encoding /%s" % base.encode("ascii")
    else:
        encent = b""
    font = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        + encent
        + b" >>"
    )
    return _classic_file(_page_tree(_norm_pages(pages), [font], show))


def make_pdf_15(pages: list[list[str]] | list[str]) -> bytes:
    """Write a real PDF in the 1.5+ layout modern writers emit: all
    non-stream objects (catalog, page tree, font, page dicts) packed into
    a Flate-compressed ``/Type /ObjStm``, indexed by a cross-reference
    STREAM (``/Type /XRef``, binary ``/W [1 4 2]`` entries) instead of a
    classic xref table.  Content streams stay top-level (the spec forbids
    streams inside object streams).  Same page/content numbering scheme as
    :func:`make_pdf`.
    """
    objs = _page_tree(_norm_pages(pages), [_HELVETICA], _literal_show)
    objstm_num = len(objs) + 1
    xref_num = objstm_num + 1
    packed: dict[int, int] = {}  # objnum -> index inside the ObjStm
    header_parts = []
    bodies = b""
    contents: list[tuple[int, bytes]] = []  # top-level stream objects
    for num, body in enumerate(objs, start=1):
        if body.endswith(b"endstream"):
            contents.append((num, body))
            continue
        # ObjStm header: "objnum offset" pairs, offsets relative to /First.
        packed[num] = len(packed)
        header_parts.append(b"%d %d" % (num, len(bodies)))
        bodies += body + b"\n"
    header = b" ".join(header_parts) + b"\n"
    objstm_body = _flate_stream(
        header + bodies,
        head=b"/Type /ObjStm /N %d /First %d " % (len(packed), len(header)),
    )

    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}
    for num, body in contents + [(objstm_num, objstm_body)]:
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"

    # Cross-reference stream: W = [1 4 2] -> (type, field2, field3).
    size = xref_num + 1
    xref_at = len(out)
    offsets[xref_num] = xref_at
    entries = bytearray()
    for num in range(size):
        if num == 0:
            t, f2, f3 = 0, 0, 65535
        elif num in offsets:
            t, f2, f3 = 1, offsets[num], 0
        else:
            t, f2, f3 = 2, objstm_num, packed[num]
        entries += bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
    xref = _flate_stream(
        bytes(entries),
        head=b"/Type /XRef /Size %d /Root 1 0 R /W [1 4 2] /Index [0 %d] "
        % (size, size),
    )
    out += b"%d 0 obj\n" % xref_num + xref
    out += b"\nendobj\nstartxref\n%d\n%%%%EOF\n" % xref_at
    return bytes(out)


def make_pdf_encrypted(
    pages: list[list[str]] | list[str],
    owner_pw: bytes = b"owner-secret",
    scheme: str = "rc4",
    user_pw: bytes = b"",
) -> bytes:
    """Write a genuinely encrypted PDF (Standard security handler, empty
    USER password) in any of the three real-world shapes: ``"rc4"``
    (V=2 R=3, 128-bit), ``"aesv2"`` (V=4 R=4, AES-128-CBC — the Acrobat
    7+ default), or ``"aesv3"`` (V=5 R=6, AES-256 — PDF 2.0 / Acrobat
    X+).  /O and /U (and for AES-256 /OE /UE /Perms) are computed per the
    spec's algorithms, so the files validate in standards-conforming
    readers; every stream payload is encrypted under its proper key.
    Deterministic (salts/IVs derive from the content hash) so fixtures
    are reproducible."""
    from . import tinyaes

    plain = make_pdf(pages)
    # Bodies as parsed back from ``plain`` (each keeps its surrounding
    # newlines); object numbers run from 1.
    bodies = [m.group(2) for m in _OBJ_RE.finditer(plain)]
    p = -3904
    file_id = hashlib.md5(plain).digest()

    if scheme == "rc4":
        r, n = 3, 16
        o_entry = _compute_o(owner_pw, user_pw, r, n)
        fkey = _file_key(user_pw, o_entry, p, file_id, r, n)
        u_entry = _compute_u(fkey, file_id, r)
        enc_dict = (
            b"<< /Filter /Standard /V 2 /R 3 /Length 128 /P %d "
            b"/O <%s> /U <%s> >>"
            % (
                p,
                o_entry.hex().upper().encode("ascii"),
                u_entry.hex().upper().encode("ascii"),
            )
        )

        def enc_payload(num: int, data: bytes) -> bytes:
            return _rc4(_object_key(fkey, num, 0), data)

    elif scheme == "aesv2":
        r, n = 4, 16
        o_entry = _compute_o(owner_pw, user_pw, r, n)
        fkey = _file_key(user_pw, o_entry, p, file_id, r, n)
        u_entry = _compute_u(fkey, file_id, r)
        enc_dict = (
            b"<< /Filter /Standard /V 4 /R 4 /Length 128 /P %d "
            b"/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen "
            b"/Length 16 >> >> /StmF /StdCF /StrF /StdCF "
            b"/O <%s> /U <%s> >>"
            % (
                p,
                o_entry.hex().upper().encode("ascii"),
                u_entry.hex().upper().encode("ascii"),
            )
        )

        def enc_payload(num: int, data: bytes) -> bytes:
            h = hashlib.md5(
                fkey
                + num.to_bytes(3, "little")
                + (0).to_bytes(2, "little")
                + b"sAlT"
            ).digest()
            iv = hashlib.md5(file_id + num.to_bytes(4, "big")).digest()
            return iv + tinyaes.cbc_encrypt(h[:16], iv, data)

    elif scheme == "aesv3":
        fkey = hashlib.sha256(plain).digest()  # 32-byte file key
        uvs, uks = file_id[:8], file_id[8:16]
        u_entry = _hash_2b(user_pw, uvs) + uvs + uks
        ue = tinyaes.cbc_encrypt(
            _hash_2b(user_pw, uks), b"\x00" * 16, fkey, pad=False
        )
        ovs = hashlib.md5(b"o" + plain).digest()[:8]
        oks = hashlib.md5(b"k" + plain).digest()[:8]
        o_entry = _hash_2b(owner_pw, ovs, u_entry) + ovs + oks
        oe = tinyaes.cbc_encrypt(
            _hash_2b(owner_pw, oks, u_entry), b"\x00" * 16, fkey, pad=False
        )
        perms_blk = (
            (p & 0xFFFFFFFF).to_bytes(4, "little")
            + b"\xff\xff\xff\xff"
            + b"Tadb"
            + file_id[:4]
        )
        perms = tinyaes.cbc_encrypt(fkey, b"\x00" * 16, perms_blk, pad=False)
        enc_dict = (
            b"<< /Filter /Standard /V 5 /R 6 /Length 256 /P %d "
            b"/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen "
            b"/Length 32 >> >> /StmF /StdCF /StrF /StdCF "
            b"/O <%s> /U <%s> /OE <%s> /UE <%s> /Perms <%s> >>"
            % (
                p,
                o_entry.hex().upper().encode("ascii"),
                u_entry.hex().upper().encode("ascii"),
                oe.hex().upper().encode("ascii"),
                ue.hex().upper().encode("ascii"),
                perms.hex().upper().encode("ascii"),
            )
        )

        def enc_payload(num: int, data: bytes) -> bytes:
            iv = hashlib.md5(file_id + num.to_bytes(4, "big")).digest()
            return iv + tinyaes.cbc_encrypt(fkey, iv, data)

    else:
        raise ValueError(f"scheme must be rc4|aesv2|aesv3, got {scheme!r}")

    out_objs = []
    for num, body in enumerate(bodies, start=1):
        span = _stream_span(body)
        if span:
            # AES payloads grow (IV + padding): keep /Length honest.
            data = enc_payload(num, body[span[1] : span[2]])
            body = _with_payload(body, span, data)
        out_objs.append(body)
    enc_num = len(out_objs) + 1
    idhex = file_id.hex().upper().encode("ascii")
    return _classic_file(
        out_objs + [enc_dict],
        b" /Encrypt %d 0 R /ID [<%s> <%s>]" % (enc_num, idhex, idhex),
    )


def make_pdf_cid(pages: list[list[str]] | list[str]) -> bytes:
    """Write a real CID-keyed PDF the way Unicode-capable writers do
    (PDF 32000-1 §9.7): a ``/Type0`` composite font with ``/Identity-H``
    encoding, a ``CIDFontType2`` descendant, and a ``/ToUnicode`` CMap
    stream (``bfchar`` entries chunked 100 per block per the spec); text
    is shown as 2-byte-per-CID hex strings.  This is the layout PDFBox
    handles in the reference (Function.java:90-132) for CJK documents —
    CIDs here are assigned sequentially per distinct character, so the
    mapping genuinely exercises the ToUnicode path (no identity shortcut).
    """
    norm = _norm_pages(pages)
    cid_of = _char_codes(norm, 1)

    # ToUnicode CMap: bfchar blocks of at most 100 entries.
    items = sorted((cid, ch) for ch, cid in cid_of.items())
    blocks = []
    for i in range(0, len(items), 100):
        chunk = items[i : i + 100]
        lines_ = [b"%d beginbfchar" % len(chunk)]
        for cid, ch in chunk:
            dst = ch.encode("utf-16-be").hex().upper().encode("ascii")
            lines_.append(b"<%04X> <" % cid + dst + b">")
        lines_.append(b"endbfchar")
        blocks.append(b"\n".join(lines_))
    cmap_src = (
        b"/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (UCS) "
        b"/Supplement 0 >> def\n/CMapName /Adobe-Identity-UCS def\n"
        b"/CMapType 2 def\n1 begincodespacerange\n<0000> <FFFF>\n"
        b"endcodespacerange\n" + b"\n".join(blocks) + b"\nendcmap\n"
        b"CMapName currentdict /CMap defineresource pop\nend\nend\n"
    )
    # 3 Type0 font, 4 descendant, 5 ToUnicode.
    fonts = [
        b"<< /Type /Font /Subtype /Type0 /BaseFont /MiniSans "
        b"/Encoding /Identity-H /DescendantFonts [4 0 R] "
        b"/ToUnicode 5 0 R >>",
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /MiniSans "
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
        b"/Supplement 0 >> /DW 1000 /CIDToGIDMap /Identity >>",
        _flate_stream(cmap_src),
    ]
    return _classic_file(_page_tree(norm, fonts, _hex_show(cid_of, b"%04X")))


def _sfnt_with_cmap4(uni2gid: dict[int, int]) -> bytes:
    """A minimal TrueType font program whose only table is a ``cmap``
    with one (3,1) format-4 subtable mapping each unicode to its glyph
    id.  Structurally a valid sfnt (offset table + table record + table);
    glyph outlines are irrelevant to text extraction so none are
    embedded — this is the fixture twin of _sfnt_unicode_cmap, the way
    make_pdf_encrypted is the twin of _parse_encryption."""
    # Segments: maximal runs where both unicode and gid advance by 1.
    unis = sorted(uni2gid)
    segs: list[tuple[int, int, int]] = []  # (startUni, endUni, startGid)
    for u in unis:
        g = uni2gid[u]
        if segs and u == segs[-1][1] + 1 and g == uni2gid[segs[-1][1]] + 1:
            segs[-1] = (segs[-1][0], u, segs[-1][2])
        else:
            segs.append((u, u, g))
    segs.append((0xFFFF, 0xFFFF, 0))  # required terminal segment
    seg_count = len(segs)
    import math as _math

    sel = max(0, int(_math.log2(seg_count)))
    search_range = 2 ** (sel + 1)
    sub = bytearray()
    sub += (4).to_bytes(2, "big")
    sub += (16 + 8 * seg_count).to_bytes(2, "big")  # length
    sub += (0).to_bytes(2, "big")  # language
    sub += (seg_count * 2).to_bytes(2, "big")
    sub += search_range.to_bytes(2, "big")
    sub += sel.to_bytes(2, "big")
    sub += (seg_count * 2 - search_range).to_bytes(2, "big", signed=True)
    for _s, e, _g in segs:
        sub += e.to_bytes(2, "big")
    sub += b"\x00\x00"  # reservedPad
    for s, _e, _g in segs:
        sub += s.to_bytes(2, "big")
    for s, _e, g in segs[:-1]:
        sub += ((g - s) & 0xFFFF).to_bytes(2, "big")  # idDelta
    sub += (1).to_bytes(2, "big")  # terminal segment delta
    sub += b"\x00\x00" * seg_count  # idRangeOffset: all 0 (delta form)

    cmap = bytearray()
    cmap += (0).to_bytes(2, "big")  # version
    cmap += (1).to_bytes(2, "big")  # numTables
    cmap += (3).to_bytes(2, "big") + (1).to_bytes(2, "big")  # (3,1)
    cmap += (12).to_bytes(4, "big")  # subtable offset
    cmap += sub

    font = bytearray()
    font += b"\x00\x01\x00\x00"  # sfnt version (TrueType)
    font += (1).to_bytes(2, "big")  # numTables
    font += (16).to_bytes(2, "big")  # searchRange
    font += (0).to_bytes(2, "big")  # entrySelector
    font += (0).to_bytes(2, "big")  # rangeShift
    font += b"cmap"
    font += (0).to_bytes(4, "big")  # checksum (unverified by readers)
    font += (28).to_bytes(4, "big")  # offset: 12 + 16
    font += len(cmap).to_bytes(4, "big")
    font += cmap
    return bytes(font)

def make_pdf_type0_embedded(pages: list[list[str]] | list[str]) -> bytes:
    """Write a Type0/Identity-H PDF with NO /ToUnicode CMap: the only
    route back to text is the embedded TrueType's (3,1) cmap inside
    /FontFile2 — the layout this module's _type0_embedded_cmap recovers
    and PDFBox handles via its font machinery in the reference
    (BlobUploadDetector/.../Function.java:94).  Glyph ids are assigned
    sequentially starting at 3 (NOT code points), so an identity fallback
    would produce garbage — round-tripping genuinely exercises the
    embedded-cmap path."""
    norm = _norm_pages(pages)
    gid_of = _char_codes(norm, 3)
    for ch in gid_of:
        if ord(ch) >= 0xFFFF:
            # >=: U+FFFF itself is format 4's terminal-segment
            # sentinel — parsers (ours at _parse_cmap_subtable,
            # and real ones) skip a segment starting there, so it
            # cannot round-trip either.
            raise ValueError(
                "make_pdf_type0_embedded: non-BMP character"
                f" {ch!r} — the format-4 cmap this fixture emits"
                " is uint16-coded; use make_pdf_cid (ToUnicode"
                " handles surrogate pairs) for such text"
            )
    font_raw = _sfnt_with_cmap4({ord(ch): g for ch, g in gid_of.items()})
    # 3 Type0 font, 4 descendant, 5 descriptor, 6 FontFile2.
    fonts = [
        b"<< /Type /Font /Subtype /Type0 /BaseFont /MiniSans "
        b"/Encoding /Identity-H /DescendantFonts [4 0 R] >>",
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /MiniSans "
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
        b"/Supplement 0 >> /DW 1000 /CIDToGIDMap /Identity "
        b"/FontDescriptor 5 0 R >>",
        b"<< /Type /FontDescriptor /FontName /MiniSans /Flags 4 "
        b"/FontBBox [0 0 1000 1000] /ItalicAngle 0 /Ascent 800 "
        b"/Descent -200 /CapHeight 700 /StemV 80 /FontFile2 6 0 R >>",
        _flate_stream(font_raw, tail=b" /Length1 %d" % len(font_raw)),
    ]
    return _classic_file(_page_tree(norm, fonts, _hex_show(gid_of, b"%04X")))


def _make_cff(glyph_names: list[str], codes: list[int]) -> bytes:
    """Assemble a minimal name-keyed bare CFF: charset format 0 mapping
    gid i+1 to ``glyph_names[i]`` (standard SIDs where the name is a CFF
    standard string, custom strings otherwise), Encoding format 0 mapping
    ``codes[i]`` to gid i+1, and dummy single-op charstrings (parsers
    here only need the glyph COUNT)."""
    std_sid = {n: i for i, n in enumerate(_CFF_STD_STRINGS)}
    custom: list[bytes] = []
    sids: list[int] = []
    for nm in glyph_names:
        if nm in std_sid:
            sids.append(std_sid[nm])
        else:
            sids.append(391 + len(custom))
            custom.append(nm.encode("latin-1"))

    def ix(items: list[bytes]) -> bytes:
        if not items:
            return b"\x00\x00"
        data = b"".join(items)
        osz = 1 if len(data) + 1 <= 0xFF else 2
        out = len(items).to_bytes(2, "big") + bytes([osz])
        off = 1
        offs = [off]
        for it in items:
            off += len(it)
            offs.append(off)
        out += b"".join(o.to_bytes(osz, "big") for o in offs)
        return out + data

    n = len(glyph_names)
    header = b"\x01\x00\x04\x01"
    name_ix = ix([b"MiniCFF"])
    # Top DICT: three 5-byte integer operands (byte 29) + 1-byte ops
    # 15/16/17 -> fixed 18-byte DICT, so offsets resolve in one pass.
    top_data_len = 18
    top_ix_len = 2 + 1 + 2 + top_data_len
    str_ix = ix(custom)
    gsubr_ix = b"\x00\x00"
    pos_enc = 4 + len(name_ix) + top_ix_len + len(str_ix) + len(gsubr_ix)
    enc = bytes([0, n]) + bytes(codes)
    pos_charset = pos_enc + len(enc)
    charset = b"\x00" + b"".join(s.to_bytes(2, "big") for s in sids)
    pos_cs = pos_charset + len(charset)
    charstrings = ix([b"\x0e"] * (n + 1))  # gid 0 (.notdef) + n glyphs

    def i5(v: int) -> bytes:
        return b"\x1d" + v.to_bytes(4, "big")

    top_data = (
        i5(pos_charset) + b"\x0f" + i5(pos_enc) + b"\x10" + i5(pos_cs)
        + b"\x11"
    )
    assert len(top_data) == top_data_len
    top_ix = b"\x00\x01\x01" + bytes([1, 1 + top_data_len]) + top_data
    return (
        header + name_ix + top_ix + str_ix + gsubr_ix + enc + charset
        + charstrings
    )

def make_pdf_cff_simple(pages: list[list[str]] | list[str]) -> bytes:
    """Write a SIMPLE-font PDF whose only route back to text is the
    embedded bare CFF's own Encoding + charset: /FontFile3 (/Type1C), NO
    /ToUnicode, NO /Encoding, and byte codes assigned sequentially from
    128 (NOT character codes — the latin-1 fall-through would produce
    accented garbage).  Glyph names mix CFF standard strings (letters,
    digits, punctuation) with custom ``uniXXXX`` strings, so both SID
    ranges are exercised.  The layout PDFBox survives via its font
    machinery in the reference (Function.java:94)."""
    norm = _norm_pages(pages)
    code_of = _char_codes(norm, 128)
    if len(code_of) > 120:
        raise ValueError(
            "make_pdf_cff_simple: too many distinct characters for the"
            " single-byte code space this fixture assigns from 128"
        )
    rev_std: dict[str, str] = {}
    for nm in _CFF_STD_STRINGS:
        ch = _glyph_char(nm)
        if ch is not None and len(ch) == 1 and ch not in rev_std:
            rev_std[ch] = nm
    names = [rev_std.get(ch, "uni%04X" % ord(ch)) for ch in code_of]
    font_raw = _make_cff(names, list(code_of.values()))
    # 3 font, 4 descriptor, 5 FontFile3.
    fonts = [
        b"<< /Type /Font /Subtype /Type1 /BaseFont /MiniCFF "
        b"/FontDescriptor 4 0 R >>",
        b"<< /Type /FontDescriptor /FontName /MiniCFF /Flags 4 "
        b"/FontBBox [0 0 1000 1000] /ItalicAngle 0 /Ascent 800 "
        b"/Descent -200 /CapHeight 700 /StemV 80 /FontFile3 5 0 R >>",
        _flate_stream(font_raw, tail=b" /Subtype /Type1C"),
    ]
    return _classic_file(_page_tree(norm, fonts, _hex_show(code_of, b"%02X")))
