"""Pure-Python PDF text extraction over a constrained synthetic-PDF subset.

This is the engine's stand-in for the reference's text-layer path
(`pdfplumber.open(...)` + `page.extract_text()`, pdfextraction.py:33-35;
PyPDF2 `page.extract_text()`, app.py:46-52): a from-scratch parser that
recovers per-page text from REAL ``%PDF-`` bytes — cross-reference table,
page tree, FlateDecode (stdlib ``zlib``) content streams, and the BT/ET
text operators — with zero third-party dependencies.

Subset contract (what :func:`extract_pdf_pages` supports, and what
:func:`build_pdf` emits):

* classic cross-reference TABLES (``xref`` … ``trailer``) AND PDF-1.5
  cross-reference STREAMS (``/Type /XRef`` — binary ``/W``-packed rows,
  optional PNG ``/Predictor`` on the row data, ``/Prev`` chains across
  incremental updates, mixed table/stream chains); objects packed into
  object streams (``/Type /ObjStm``) resolve through type-2 entries; a
  scan-the-file fallback recovers object offsets when the xref is
  damaged (a real-crawl wrinkle: truncated tails, appended junk) and
  expands any object streams it finds;
* object syntax in full: dictionaries, arrays, names (with ``#xx``
  escapes), literal strings (nested parens, ``\\ddd`` octal and named
  escapes, line continuations), hex strings, references, booleans/null,
  indirect ``/Length`` values;
* content streams stored raw or ``/FlateDecode``-compressed (any other
  filter raises — contained per document by the kernel's F18 guard);
* FONT ENCODINGS (PDF 32000 §9.6.6, §9.10.3, Annex D — what real
  writers emit and pdfplumber resolves): ``/ToUnicode`` CMaps
  (bfchar + both bfrange forms, 1- and 2-byte codes), named
  ``/WinAnsiEncoding`` / ``/MacRomanEncoding`` / ``/StandardEncoding``
  base encodings, ``/Encoding`` dictionaries with ``/BaseEncoding`` +
  ``/Differences`` (AGL names + uniXXXX/uXXXXXX), and Type0/Identity-H
  composite fonts; the interpreter tracks ``Tf`` and decodes each glyph
  run with ITS font.  A font with no encoding information at all keeps
  the engine's documented UTF-8 fallback (the legacy fixture contract —
  without the font program a built-in encoding is unknowable);
* text extraction: glyph-run BYTES are accumulated per line as
  per-font runs and decoded once per line (same-font runs concatenate
  first, so multi-byte codes split across show strings reassemble);
  line breaks come from ``Td``/``TD`` with a vertical component,
  ``T*``, ``'``/``\"``, and ``Tm``; pages are the in-order leaves of the
  ``/Kids`` tree (``/Resources`` inherit down the tree); a page's text
  is its lines joined by ``\\n``.

Because the builder splits page text on ``\\n`` into shown lines and the
parser re-joins recovered lines with ``\\n``, ``extract_pdf_pages(
build_pdf(pages))`` is the identity on arbitrary Unicode page texts —
the analytic invariant the driver oracle and the byte-identity pytest
check.

Scale shape: both functions are plain bytes->py functions invoked inside
Arrow-batched ``mapInArrow`` kernels (one document per row, never
row-at-a-time Spark UDFs); nothing here touches Spark.
"""

from __future__ import annotations

import hashlib
import re
import struct
import zlib

from functools import lru_cache

from pdf_extraction_spark.crypto_aes import (
    aes128_cbc_decrypt,
    aes128_cbc_encrypt,
    aes_cbc_nopad_decrypt,
    aes_cbc_nopad_encrypt,
    aes_decrypt_block,
    aes_encrypt_block,
)

# ---------------------------------------------------------------------------
# standard security handler (encrypted PDFs): RC4 revisions 2/3 (the
# 40/128-bit legacy encryption), V4/R4 crypt filters — /CF /StdCF
# with /CFM /V2 (RC4) or /AESV2 (AES-128-CBC, pure-Python FIPS-197
# implementation in crypto_aes.py) — which mid-2000s web PDFs carry,
# AND V5 AES-256 (/CFM /AESV3): both the deprecated Acrobat-9 R5
# (plain SHA-256 password hash) and the ISO 32000-2 R6 (Algorithm 2.B
# iterated SHA-256/384/512 hash) revisions, with the /UE file-key
# unwrap and the /Perms integrity check.  The empty-user-password case
# (open-for-anyone, permissions-only) is the one a crawl actually
# hits; non-empty passwords raise.  Strings are not separately
# decrypted: in this engine's subset all text lives in (encrypted)
# content STREAMS, and the O/U entries of the encryption dictionary
# itself are exempt by spec.
# ---------------------------------------------------------------------------

_PDF_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def _rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 (its own inverse) — pure Python, no crypto libs."""
    S = list(range(256))
    j = 0
    kl = len(key)
    for i in range(256):
        j = (j + S[i] + key[i % kl]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for n, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[n] = c ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


def _pad_password(pw: bytes) -> bytes:
    return (pw + _PDF_PAD)[:32]


def _std_owner_entry(owner_pw: bytes, user_pw: bytes, rev: int, klen: int) -> bytes:
    """Algorithm 3: the /O entry."""
    h = hashlib.md5(_pad_password(owner_pw)).digest()
    if rev >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:klen]).digest()
    key = h[:klen]
    o = _rc4(key, _pad_password(user_pw))
    if rev >= 3:
        for i in range(1, 20):
            o = _rc4(bytes(b ^ i for b in key), o)
    return o


def _std_file_key(
    user_pw: bytes,
    o_entry: bytes,
    perms: int,
    id0: bytes,
    rev: int,
    klen: int,
    meta_false: bool = False,
) -> bytes:
    """Algorithm 2: the file encryption key (R4 with /EncryptMetadata
    false appends 0xFFFFFFFF to the digest input)."""
    md = hashlib.md5()
    md.update(_pad_password(user_pw))
    md.update(o_entry)
    md.update(struct.pack("<i", perms))
    md.update(id0)
    if rev >= 4 and meta_false:
        md.update(b"\xff\xff\xff\xff")
    h = md.digest()
    if rev >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:klen]).digest()
    return h[:klen]


def _std_user_entry(key: bytes, id0: bytes, rev: int) -> bytes:
    """Algorithms 4 (R2) / 5 (R3): the /U entry."""
    if rev == 2:
        return _rc4(key, _PDF_PAD)
    u = hashlib.md5(_PDF_PAD + id0).digest()
    u = _rc4(key, u)
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in key), u)
    return u + b"\x00" * 16


def _std_object_key(
    file_key: bytes, num: int, gen: int = 0, aes: bool = False
) -> bytes:
    """Algorithm 1: the per-object key (V1/V2 RC4; V4 AESV2 appends the
    spec's ``sAlT`` constant to the digest input)."""
    md = hashlib.md5()
    md.update(file_key)
    md.update(num.to_bytes(3, "little"))
    md.update(gen.to_bytes(2, "little"))
    if aes:
        md.update(b"sAlT")
    return md.digest()[: min(len(file_key) + 5, 16)]


def _hash_r6(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B: the R6 password hash.  Starts from
    SHA-256(password + salt + udata), then iterates: K1 = (password +
    K + udata) * 64, E = AES-128-CBC-nopad(K[:16], iv=K[16:32], K1),
    next digest picked by sum(E[:16]) % 3 among SHA-256/384/512; stops
    after >= 64 rounds once E's last byte <= rounds_done - 32."""
    k = hashlib.sha256(password + salt + udata).digest()
    digests = (hashlib.sha256, hashlib.sha384, hashlib.sha512)
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = aes_cbc_nopad_encrypt(k[:16], k[16:32], k1)
        k = digests[sum(e[:16]) % 3](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


@lru_cache(maxsize=64)
def _hash_v5(password: bytes, salt: bytes, rev: int, udata: bytes = b"") -> bytes:
    """The V5 password hash: plain SHA-256 for the deprecated Acrobat-9
    R5, Algorithm 2.B for R6.  Cached: the 2.B loop costs tens of
    thousands of pure-Python AES blocks, and a corpus written with
    shared salts (as build_pdf deliberately does) re-derives the same
    hash for every document — one evaluation per executor process
    instead of per doc.  Files with per-document salts still parse,
    they just pay the loop each time (bounded by maxsize)."""
    if rev == 5:
        return hashlib.sha256(password + salt + udata).digest()
    return _hash_r6(password, salt, udata)


# ---------------------------------------------------------------------------
# builder: real %PDF bytes from per-page text
# ---------------------------------------------------------------------------


def _esc_literal(b: bytes) -> bytes:
    """Escape raw bytes into a PDF literal-string body: ``( ) \\`` get a
    backslash, anything outside printable ASCII becomes ``\\ddd`` octal
    (so no raw end-of-line byte ever appears inside a string — the spec
    would normalize it and break byte fidelity)."""
    out = bytearray()
    for c in b:
        if c in (0x28, 0x29, 0x5C):  # ( ) \
            out += b"\\" + bytes([c])
        elif 32 <= c <= 126:
            out.append(c)
        else:
            out += ("\\%03o" % c).encode("ascii")
    return bytes(out)


def _glyph_name(ch: str) -> str:
    """Deterministic glyph name for a /Differences entry: a real AGL name
    when one exists (exercises the parser's name table), else the
    uniXXXX / uXXXXXX forms that cover all of Unicode."""
    nm = _AGL_REV.get(ch)
    if nm is not None:
        return nm
    cp = ord(ch)
    return f"uni{cp:04X}" if cp <= 0xFFFF else f"u{cp:06X}"


def _differences_array(pairs: list[tuple[int, str]]) -> bytes:
    """/Differences syntax: a code number starts a run, following names
    take consecutive codes (§9.6.6.1)."""
    out: list[str] = []
    prev = None
    for code, name in sorted(pairs):
        if prev is None or code != prev + 1:
            out.append(str(code))
        out.append("/" + name)
        prev = code
    return ("[ " + " ".join(out) + " ]").encode("ascii")


def _tounicode_stream(code2char: dict[int, str], nbytes: int) -> bytes:
    """Emit a spec-shaped /ToUnicode CMap (§9.10.3): codespacerange for
    the code width, maximal consecutive runs as bfrange (incrementing
    destination form), the rest as bfchar, both in the spec's 100-entry
    section chunks.  Destinations are UTF-16BE, so astral-plane chars
    ride as surrogate pairs in bfchar entries."""
    items = sorted(code2char.items())

    def _bmp(ch: str) -> bool:
        return len(ch) == 1 and ord(ch) <= 0xFFFF and not (
            0xD800 <= ord(ch) <= 0xDFFF
        )

    ranges: list[tuple[int, int, int]] = []
    chars: list[tuple[int, str]] = []
    i = 0
    while i < len(items):
        c0, ch0 = items[i]
        j = i
        if _bmp(ch0):
            while j + 1 < len(items):
                ck, chk = items[j + 1]
                k = j + 1 - i
                if not (
                    ck == c0 + k
                    and _bmp(chk)
                    and ord(chk) == ord(ch0) + k
                    and ord(ch0) + k <= 0xFFFF
                    and (ck >> 8) == (c0 >> 8)  # one 256-block per range
                ):
                    break
                j += 1
        if j - i + 1 >= 3:
            ranges.append((c0, items[j][0], ord(ch0)))
            i = j + 1
        else:
            chars.append(items[i])
            i += 1

    w = nbytes * 2
    lines = [
        b"/CIDInit /ProcSet findresource begin",
        b"12 dict begin",
        b"begincmap",
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (UCS)"
        b" /Supplement 0 >> def",
        b"/CMapName /Engine-UCS def",
        b"/CMapType 2 def",
        b"1 begincodespacerange",
        f"<{0:0{w}X}> <{(1 << (8 * nbytes)) - 1:0{w}X}>".encode("ascii"),
        b"endcodespacerange",
    ]
    for at in range(0, len(chars), 100):
        chunk = chars[at : at + 100]
        lines.append(f"{len(chunk)} beginbfchar".encode("ascii"))
        for code, ch in chunk:
            dst = ch.encode("utf-16-be").hex().upper()
            lines.append(f"<{code:0{w}X}> <{dst}>".encode("ascii"))
        lines.append(b"endbfchar")
    for at in range(0, len(ranges), 100):
        chunk = ranges[at : at + 100]
        lines.append(f"{len(chunk)} beginbfrange".encode("ascii"))
        for lo, hi, start in chunk:
            lines.append(
                f"<{lo:0{w}X}> <{hi:0{w}X}> <{start:04X}>".encode("ascii")
            )
        lines.append(b"endbfrange")
    lines += [
        b"endcmap",
        b"CMapName currentdict /CMap defineresource pop",
        b"end",
        b"end",
    ]
    return b"\n".join(lines) + b"\n"


def _plan_encoded_fonts(
    ordered_chars: list[str], mode: str
) -> tuple[dict[str, tuple[int, bytes]], list[dict]]:
    """Assign every distinct character a (font_index, code_bytes) slot.

    * ``winansi`` / ``macroman``: base-encodable chars keep their base
      code in font 0; the rest take /Differences overrides on codes the
      text leaves unused (descending from 255), spilling into extra
      Differences-only fonts when one byte space is not enough.
    * ``tounicode``: codes 1..255 per font in first-seen order, each
      font carrying a /ToUnicode CMap; extra fonts as needed.
    * ``cid``: one Type0/Identity-H font, 2-byte codes, one CMap.
    """
    charmap: dict[str, tuple[int, bytes]] = {}
    fonts: list[dict] = []
    if mode in ("winansi", "macroman"):
        table = _WINANSI if mode == "winansi" else _MACROMAN
        base_name = (
            "WinAnsiEncoding" if mode == "winansi" else "MacRomanEncoding"
        )
        rev = {
            ch: c for c in range(32, 256) if (ch := table[c]) is not None
        }
        extras = [ch for ch in ordered_chars if ch not in rev]
        used = {rev[ch] for ch in ordered_chars if ch in rev}
        pool = [c for c in range(255, 31, -1) if c not in used]
        fonts.append({"kind": mode, "base": base_name, "differences": []})
        for ch in ordered_chars:
            if ch in rev:
                charmap[ch] = (0, bytes([rev[ch]]))
        fidx = 0
        for ch in extras:
            if not pool:
                fidx += 1
                fonts.append(
                    {"kind": mode, "base": base_name, "differences": []}
                )
                pool = list(range(255, 31, -1))
            code = pool.pop(0)
            fonts[fidx]["differences"].append((code, _glyph_name(ch)))
            charmap[ch] = (fidx, bytes([code]))
    elif mode == "tounicode":
        for i, ch in enumerate(ordered_chars):
            fidx, code = divmod(i, 255)
            code += 1
            if fidx == len(fonts):
                fonts.append({"kind": mode, "cmap": {}, "nbytes": 1})
            fonts[fidx]["cmap"][code] = ch
            charmap[ch] = (fidx, bytes([code]))
    elif mode == "cid":
        fonts.append({"kind": mode, "cmap": {}, "nbytes": 2})
        for i, ch in enumerate(ordered_chars):
            code = i + 1
            if code > 0xFFFF:
                raise ValueError("build_pdf: cid mode: >65535 distinct chars")
            fonts[0]["cmap"][code] = ch
            charmap[ch] = (0, code.to_bytes(2, "big"))
    else:
        raise ValueError(f"build_pdf: unknown font mode {mode!r}")
    return charmap, fonts


def _page_content_encoded(
    lines: list[str], charmap: dict[str, tuple[int, bytes]]
) -> bytes:
    """One page's content stream over encoded fonts: chars group into
    same-font runs, ``Tf`` switches fonts mid-line, and the show shapes
    cycle literal ``Tj`` / hex ``Tj`` / split ``TJ`` (the split may land
    mid-code for 2-byte CIDs — intentional, the parser must reassemble
    across show strings)."""
    ops = [b"BT", b"/F1 12 Tf", b"14 TL", b"72 720 Td"]
    cur = 0
    for j, line in enumerate(lines):
        if j > 0:
            ops.append((b"T*", b"0 -14 Td", b"0 -14 TD")[j % 3])
        runs: list[list] = []
        for ch in line:
            fidx, cb = charmap[ch]
            if runs and runs[-1][0] == fidx:
                runs[-1][1] += cb
            else:
                runs.append([fidx, bytearray(cb)])
        if not runs:
            ops.append(b"() Tj")
            continue
        for r, (fidx, cb) in enumerate(runs):
            if fidx != cur:
                ops.append(f"/F{fidx + 1} 12 Tf".encode("ascii"))
                cur = fidx
            cb = bytes(cb)
            variant = (j + r) % 3
            if variant == 1:
                ops.append(b"<" + cb.hex().encode("ascii") + b"> Tj")
            elif variant == 2 and len(cb) > 1:
                h = len(cb) // 2
                ops.append(
                    b"[(" + _esc_literal(cb[:h]) + b") -120 ("
                    + _esc_literal(cb[h:]) + b")] TJ"
                )
            else:
                ops.append(b"(" + _esc_literal(cb) + b") Tj")
    ops.append(b"ET")
    return b"\n".join(ops) + b"\n"


def _page_content(lines: list[str]) -> bytes:
    """One page's content stream: BT/ET block showing each line, cycling
    through the four text-showing shapes the parser must handle —
    ``Tj`` (literal), ``TJ`` (array with kerning numbers, split
    mid-line so multi-byte UTF-8 code points straddle show strings),
    ``'`` (move-then-show), and hex-string ``Tj``."""
    ops = [b"BT", b"/F1 12 Tf", b"14 TL", b"72 720 Td"]
    for j, line in enumerate(lines):
        lb = line.encode("utf-8")
        variant = j % 4
        if j > 0:
            if variant == 0:
                ops.append(b"T*")
            elif variant == 1:
                ops.append(b"0 -14 Td")
            elif variant == 3:
                ops.append(b"0 -14 TD")
            # variant 2 uses ' which performs its own line move
        if variant == 1:
            h = len(lb) // 2  # may split a UTF-8 sequence — intentional
            ops.append(
                b"[(" + _esc_literal(lb[:h]) + b") -120 ("
                + _esc_literal(lb[h:]) + b")] TJ"
            )
        elif variant == 2 and j > 0:
            ops.append(b"(" + _esc_literal(lb) + b") '")
        elif variant == 3:
            ops.append(b"<" + lb.hex().encode("ascii") + b"> Tj")
        else:
            ops.append(b"(" + _esc_literal(lb) + b") Tj")
    ops.append(b"ET")
    return b"\n".join(ops) + b"\n"


def _jpeg_sof_dims(j: bytes) -> tuple[int, int]:
    """(width, height) from a JFIF stream's SOF0/1/2 marker — the only
    probe the builder needs to size an image XObject."""
    if j[:2] != b"\xff\xd8":
        raise ValueError("build_pdf: image is not a JPEG")
    i = 2
    while i + 9 < len(j):
        if j[i] != 0xFF:
            i += 1
            continue
        m = j[i + 1]
        if m in (0xC0, 0xC1, 0xC2):
            h = int.from_bytes(j[i + 5 : i + 7], "big")
            w = int.from_bytes(j[i + 7 : i + 9], "big")
            return w, h
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        i += 2 + int.from_bytes(j[i + 2 : i + 4], "big")
    raise ValueError("build_pdf: no SOF marker in image")


def build_pdf(
    pages: list[str],
    *,
    compress: bool = True,
    indirect_length: bool = False,
    xref_stream: bool = False,
    use_objstm: bool = False,
    predictor: bool = False,
    encrypt: str | None = None,
    font: str | None = None,
    images: list[bytes | None] | None = None,
) -> bytes:
    """Emit a complete, spec-shaped PDF whose N pages show the given
    texts.  Each page text is split on ``\\n`` into shown lines (other
    Unicode boundaries stay INSIDE a shown string, octal-escaped, so the
    round trip is exact).

    * ``compress``: ``True`` FlateDecodes the content streams via
      stdlib zlib — the normal path; ``False`` leaves raw streams; a
      filter name (``"flate"``, ``"lzw"``, ``"ahx"``, ``"a85"``,
      ``"rl"``) selects that single filter instead (parser coverage
      for the non-image PDF filter set).
    * ``indirect_length``: store each stream's ``/Length`` as a forward
      reference to a separate integer object (a wrinkle real writers
      emit that naive parsers trip over).
    * ``xref_stream``: emit a PDF-1.5 cross-reference STREAM
      (``/Type /XRef``, binary ``/W [1 4 2]`` rows, FlateDecode) instead
      of the classic table — what every modern writer produces.
    * ``use_objstm``: pack the non-stream objects (catalog, page tree,
      font, page dicts, Length ints) into one object stream
      (``/Type /ObjStm``), referenced by type-2 xref entries; requires
      ``xref_stream``.
    * ``predictor``: apply the PNG Up predictor (``/DecodeParms
      << /Predictor 12 /Columns 7 >>``) to the xref stream rows before
      deflate — the layout Acrobat and most writers actually emit;
      requires ``xref_stream``.
    * ``encrypt``: ``"rc4-40"`` (V1/R2), ``"rc4-128"`` (V2/R3),
      ``"aes-128"`` (V4/R4 with an /AESV2 /StdCF crypt filter),
      ``"aes-256"`` (V5/R6 /AESV3: ISO 32000-2 Algorithm 2.B hash,
      /UE-wrapped file key, /Perms integrity block) or ``"aes-256-r5"``
      (the deprecated Acrobat-9 V5/R5 with the plain SHA-256 hash)
      applies the standard security handler with EMPTY passwords —
      the open-for-anyone permissions-only encryption legacy web PDFs
      carry: every stream is encrypted with its per-object key (AESV2:
      deterministic per-object IV + CBC + PKCS#5 padding, so /Length
      reflects the ciphertext), the trailer gains ``/Encrypt`` +
      ``/ID``, and the parser must verify ``/U`` and decrypt to read
      anything.
    * ``font``: ``None`` keeps the legacy fixture font (no /Encoding —
      glyph bytes ARE UTF-8, the documented fallback contract).
      ``"winansi"`` / ``"macroman"`` emit honestly-encoded simple fonts:
      base-encodable chars use their base codes, everything else rides
      /Differences overrides (real AGL names where they exist, else
      uniXXXX/uXXXXXX), spilling into extra fonts with mid-line ``Tf``
      switches when one byte space is not enough.  ``"tounicode"``
      assigns arbitrary 1-byte codes resolved ONLY by a /ToUnicode
      CMap; ``"cid"`` emits a Type0/Identity-H composite font with
      2-byte codes and a CMap.  In every mode
      ``extract_pdf_pages(build_pdf(pages, font=m))`` is the identity.
    * ``images``: optional per-page image payloads (aligned with
      ``pages``; None skips a page).  Plain ``bytes`` are JPEG and embed
      VERBATIM as an ``/XObject /Image /Filter /DCTDecode`` (grayscale,
      dims probed from the SOF marker); a ``("g4", w, h, bytes)`` tuple
      embeds a CCITT Group 4 bilevel scan (``/Filter /CCITTFaxDecode``,
      ``/DecodeParms << /K -1 /Columns w /Rows h /BlackIs1 true >>``,
      1 bit/component) — the two encodings real scanned PDFs carry.
      ``("inline-g4"|"inline-dct", w, h, bytes)`` embeds the same
      payload as an INLINE image (``BI .. ID .. EI`` in the content
      stream, abbreviated keys per PDF 32000-1 §8.9.7) instead of an
      XObject — the form fax-style generators emit.
      Either way the image paints via ``cm``+``Do`` before the text —
      the scanned-page layout the reference's OCR path consumes
      (pdfextraction.py:16).  ``extract_pdf_images`` returns the
      embedded bytes bit-exactly plus the resolved ``/DecodeParms``.
    """
    if (use_objstm or predictor) and not xref_stream:
        raise ValueError("use_objstm/predictor require xref_stream")
    if not pages:
        pages = [""]
    n = len(pages)
    page_lines = [p.split("\n") for p in pages]

    objects: dict[int, bytes] = {}
    streams: dict[int, bytes] = {}
    objects[1] = b"<< /Type /Catalog /Pages 2 0 R >>"

    # ---- standard security handler setup (streams are protected at
    # creation time: AESV2 changes lengths, so /Length must be written
    # over the ciphertext; for RC4 the bytes are identical either way)
    enc_v = enc_rev = enc_klen = 0
    enc_cfm = None
    file_key = o_entry = u_entry = id0 = b""
    ue_entry = oe_entry = perms_blob = b""
    enc_perms = -44  # print+copy allowed, modify denied — a typical mask
    if encrypt:
        if encrypt == "rc4-40":
            enc_v, enc_rev, enc_klen = 1, 2, 5
        elif encrypt == "rc4-128":
            enc_v, enc_rev, enc_klen = 2, 3, 16
        elif encrypt == "aes-128":
            enc_v, enc_rev, enc_klen, enc_cfm = 4, 4, 16, "AESV2"
        elif encrypt in ("aes-256", "aes-256-r5"):
            enc_v, enc_klen, enc_cfm = 5, 32, "AESV3"
            enc_rev = 5 if encrypt == "aes-256-r5" else 6
        else:
            raise ValueError(
                "encrypt must be 'rc4-40', 'rc4-128', 'aes-128',"
                " 'aes-256' or 'aes-256-r5'"
            )
        id0 = hashlib.md5(
            b"synthetic-pdf-id\x00"
            + "\x00".join(pages).encode("utf-8", "surrogatepass")
        ).digest()
        if enc_v == 5:
            # The file key is random-per-file by spec; here it is
            # deterministic from the content hash so fixtures are
            # reproducible.  The four salts are deliberately SHARED
            # across documents (spec-legal: salts must be unpredictable
            # to an attacker, not unique per file) so the parser's
            # _hash_v5 cache pays the Algorithm 2.B loop once per
            # executor process instead of once per document.
            file_key = hashlib.sha256(b"aesv3-file-key" + id0).digest()
            uvs, uks = b"uValSalt", b"uKeySalt"
            ovs, oks = b"oValSalt", b"oKeySalt"
            u_entry = _hash_v5(b"", uvs, enc_rev) + uvs + uks
            ue_entry = aes_cbc_nopad_encrypt(
                _hash_v5(b"", uks, enc_rev), b"\x00" * 16, file_key
            )
            # the owner hashes take the 48-byte /U as trailing udata
            o_entry = _hash_v5(b"", ovs, enc_rev, u_entry) + ovs + oks
            oe_entry = aes_cbc_nopad_encrypt(
                _hash_v5(b"", oks, enc_rev, u_entry), b"\x00" * 16, file_key
            )
            # /Perms: P as 32-bit LE, 0xFFFFFFFF, 'T' (metadata
            # encrypted), 'adb', 4 arbitrary bytes — AES-256-ECB under
            # the file key (Algorithm 10)
            perms_blob = aes_encrypt_block(
                struct.pack("<i", enc_perms)
                + b"\xff\xff\xff\xffTadb"
                + id0[:4],
                file_key,
            )
        else:
            o_entry = _std_owner_entry(b"", b"", enc_rev, enc_klen)
            file_key = _std_file_key(
                b"", o_entry, enc_perms, id0, enc_rev, enc_klen
            )
            u_entry = _std_user_entry(file_key, id0, enc_rev)

    def _protect(num: int, data: bytes) -> bytes:
        if not encrypt:
            return data
        if enc_cfm == "AESV3":
            # V5 uses the FILE key directly for every object (no
            # per-object MD5 salting — dropped by ISO 32000-2)
            iv = hashlib.md5(b"aes-iv" + id0 + str(num).encode("ascii")).digest()
            return aes128_cbc_encrypt(file_key, iv, data)
        if enc_cfm == "AESV2":
            iv = hashlib.md5(b"aes-iv" + id0 + str(num).encode("ascii")).digest()
            return aes128_cbc_encrypt(
                _std_object_key(file_key, num, aes=True), iv, data
            )
        return _rc4(_std_object_key(file_key, num), data)

    def _enc_stream(num: int, payload: bytes) -> tuple[bytes, bytes]:
        if compress:
            return _protect(num, zlib.compress(payload, 9)), (
                b" /Filter /FlateDecode"
            )
        return _protect(num, payload), b""

    # ---- font objects (ids from 3 up; count depends on the mode) ----
    font_ids: list[int] = []
    charmap: dict[str, tuple[int, bytes]] | None = None
    next_id = 3
    if font is None:
        objects[3] = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
        )
        font_ids = [3]
        next_id = 4
    else:
        ordered: list[str] = []
        seen: set[str] = set()
        for lines in page_lines:
            for line in lines:
                for ch in line:
                    if ch not in seen:
                        seen.add(ch)
                        ordered.append(ch)
        charmap, fonts_spec = _plan_encoded_fonts(ordered, font)
        for spec in fonts_spec:
            fid = next_id
            next_id += 1
            font_ids.append(fid)
            kind = spec["kind"]
            if kind in ("winansi", "macroman"):
                base = spec["base"].encode("ascii")
                if spec["differences"]:
                    enc = (
                        b"<< /Type /Encoding /BaseEncoding /" + base
                        + b" /Differences "
                        + _differences_array(spec["differences"]) + b" >>"
                    )
                else:
                    enc = b"/" + base  # name form — its own parser path
                objects[fid] = (
                    b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
                    b" /Encoding " + enc + b" >>"
                )
            elif kind == "tounicode":
                cmap_id = next_id
                next_id += 1
                data, filt = _enc_stream(
                    cmap_id, _tounicode_stream(spec["cmap"], spec["nbytes"])
                )
                objects[cmap_id] = (
                    b"<< /Length " + str(len(data)).encode("ascii")
                    + filt + b" >>"
                )
                streams[cmap_id] = data
                objects[fid] = (
                    b"<< /Type /Font /Subtype /TrueType /BaseFont"
                    b" /SynthUni /ToUnicode "
                    + f"{cmap_id} 0 R".encode("ascii") + b" >>"
                )
            else:  # cid
                desc_id = next_id
                cmap_id = next_id + 1
                next_id += 2
                objects[desc_id] = (
                    b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont"
                    b" /SynthCID /CIDSystemInfo << /Registry (Adobe)"
                    b" /Ordering (Identity) /Supplement 0 >>"
                    b" /CIDToGIDMap /Identity >>"
                )
                data, filt = _enc_stream(
                    cmap_id, _tounicode_stream(spec["cmap"], spec["nbytes"])
                )
                objects[cmap_id] = (
                    b"<< /Length " + str(len(data)).encode("ascii")
                    + filt + b" >>"
                )
                streams[cmap_id] = data
                objects[fid] = (
                    b"<< /Type /Font /Subtype /Type0 /BaseFont /SynthCID"
                    b" /Encoding /Identity-H /DescendantFonts [ "
                    + f"{desc_id} 0 R".encode("ascii")
                    + b" ] /ToUnicode "
                    + f"{cmap_id} 0 R".encode("ascii") + b" >>"
                )

    # ---- image XObjects: verbatim DCTDecode / CCITT G4 streams ----
    img_info: list[tuple[int, int, int] | None] = [None] * n
    inline_paint: list[bytes | None] = [None] * n
    if images:
        for i, jb in enumerate(images[:n]):
            if jb is None:
                continue
            if isinstance(jb, tuple) and jb[0].startswith("inline-"):
                # inline image (BI..ID..EI): the payload lives in the
                # content stream itself, with the spec's abbreviated
                # keys — no XObject, no Resources entry
                kind, w, h, payload = jb
                if kind == "inline-g4":
                    hdr = (
                        f"BI /W {w} /H {h} /BPC 1 /CS /G /F /CCF"
                        f" /DP << /K -1 /Columns {w} /Rows {h}"
                        f" /BlackIs1 true >> ID "
                    )
                elif kind == "inline-dct":
                    hdr = f"BI /W {w} /H {h} /BPC 8 /CS /G /F /DCT ID "
                else:
                    raise ValueError(
                        f"build_pdf: unknown image kind {kind!r}"
                    )
                inline_paint[i] = (
                    f"q {w} 0 0 {h} 0 0 cm\n".encode("ascii")
                    + hdr.encode("ascii")
                    + payload
                    + b"\nEI Q\n"
                )
                continue
            iid = next_id
            next_id += 1
            if isinstance(jb, tuple):
                # ("g4"|"g3", width, height, bits): a CCITT bilevel scan —
                # what real document scanners embed; "g4" is T.6 (/K -1),
                # "g3" is EOL-framed T.4 1-D (/K 0).  BlackIs1 true
                # matches the codec's 1=ink convention (PDF default is
                # 0=ink).
                kind, w, h, payload = jb
                if kind not in ("g4", "g3"):
                    raise ValueError(f"build_pdf: unknown image kind {kind!r}")
                # "g3" payloads come from g3_encode, which frames every
                # line with an EOL — declare /EndOfLine true (the PDF
                # default is false = the continuous un-framed stream)
                parms = (
                    "/K -1" if kind == "g4" else "/K 0 /EndOfLine true"
                )
                data = _protect(iid, payload)
                objects[iid] = (
                    f"<< /Type /XObject /Subtype /Image /Width {w} /Height {h}"
                    f" /ColorSpace /DeviceGray /BitsPerComponent 1"
                    f" /Filter /CCITTFaxDecode /DecodeParms << {parms}"
                    f" /Columns {w} /Rows {h} /BlackIs1 true >>"
                    f" /Length {len(data)} >>"
                ).encode("ascii")
            else:
                w, h = _jpeg_sof_dims(jb)
                data = _protect(iid, jb)
                objects[iid] = (
                    f"<< /Type /XObject /Subtype /Image /Width {w} /Height {h}"
                    f" /ColorSpace /DeviceGray /BitsPerComponent 8"
                    f" /Filter /DCTDecode /Length {len(data)} >>"
                ).encode("ascii")
            streams[iid] = data
            img_info[i] = (iid, w, h)

    # ---- page tree + content streams ----
    page_ids = [next_id + i for i in range(n)]
    content_ids = [next_id + n + i for i in range(n)]
    len_ids = (
        [next_id + 2 * n + i for i in range(n)] if indirect_length else []
    )
    kids = " ".join(f"{p} 0 R" for p in page_ids)
    objects[2] = (
        f"<< /Type /Pages /Kids [ {kids} ] /Count {n} >>".encode("ascii")
    )
    res_font = " ".join(
        f"/F{i + 1} {fid} 0 R" for i, fid in enumerate(font_ids)
    )
    for i, (pid, cid) in enumerate(zip(page_ids, content_ids)):
        res_xobj = ""
        paint = b""
        if img_info[i] is not None:
            iid, w, h = img_info[i]
            res_xobj = f" /XObject << /Im1 {iid} 0 R >>"
            paint = f"q {w} 0 0 {h} 0 0 cm /Im1 Do Q\n".encode("ascii")
        elif inline_paint[i] is not None:
            paint = inline_paint[i]
        objects[pid] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 612 792 ]"
            f" /Resources << /Font << {res_font} >>{res_xobj} >>"
            f" /Contents {cid} 0 R >>"
        ).encode("ascii")
        if charmap is None:
            raw = _page_content(page_lines[i])
        else:
            raw = _page_content_encoded(page_lines[i], charmap)
        raw = paint + raw
        fname = "flate" if compress is True else compress
        if fname:
            pdf_name, encoder = _BUILD_FILTERS[fname]
            data = encoder(raw)
            filt = b" /Filter " + pdf_name
        else:
            data = raw
            filt = b""
        data = _protect(cid, data)
        if indirect_length:
            length = f"{len_ids[i]} 0 R".encode("ascii")
            objects[len_ids[i]] = str(len(data)).encode("ascii")
        else:
            length = str(len(data)).encode("ascii")
        objects[cid] = b"<< /Length " + length + filt + b" >>"
        streams[cid] = data

    # pack non-stream objects into one /ObjStm (type-2 xref entries)
    in_objstm: dict[int, int] = {}  # object num -> index within the ObjStm
    objstm_id = 0
    if use_objstm:
        objstm_id = max(objects) + 1
        packed = sorted(num for num in objects if num not in streams)
        header = bytearray()
        body = bytearray()
        for idx, num in enumerate(packed):
            header += f"{num} {len(body)} ".encode("ascii")
            body += objects.pop(num) + b"\n"
            in_objstm[num] = idx
        payload = bytes(header) + body
        data = _protect(objstm_id, zlib.compress(payload, 9))
        objects[objstm_id] = (
            f"<< /Type /ObjStm /N {len(packed)} /First {len(header)}"
            f" /Length {len(data)} /Filter /FlateDecode >>"
        ).encode("ascii")
        streams[objstm_id] = data

    # the encryption dictionary itself is a top-level object (the spec
    # forbids packing it into an ObjStm) and is never encrypted; the
    # streams were protected at creation time above
    enc_extra = b""
    if encrypt:
        enc_id = max(max(objects), objstm_id) + 1
        cf = ""
        if enc_cfm is not None:
            cf = (
                f" /CF << /StdCF << /CFM /{enc_cfm} /Length {enc_klen} >> >>"
                f" /StmF /StdCF /StrF /StdCF"
            )
        extra5 = ""
        if enc_v == 5:
            extra5 = (
                f" /UE <{ue_entry.hex()}> /OE <{oe_entry.hex()}>"
                f" /Perms <{perms_blob.hex()}>"
            )
        objects[enc_id] = (
            f"<< /Filter /Standard /V {enc_v} /R {enc_rev}"
            f" /Length {enc_klen * 8} /P {enc_perms}"
            f" /O <{o_entry.hex()}> /U <{u_entry.hex()}>{extra5}{cf} >>"
        ).encode("ascii")
        idhex = id0.hex()
        enc_extra = (
            f" /Encrypt {enc_id} 0 R /ID [ <{idhex}> <{idhex}> ]".encode("ascii")
        )

    out = bytearray()
    out += b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n" if xref_stream else (
        b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n"
    )  # binary-marker comment line
    offsets: dict[int, int] = {}
    for num in sorted(objects):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode("ascii")
        out += objects[num]
        if num in streams:
            out += b"\nstream\n" + streams[num] + b"\nendstream"
        out += b"\nendobj\n"

    if not xref_stream:
        xref_at = len(out)
        count = max(objects) + 1
        out += f"xref\n0 {count}\n".encode("ascii")
        out += b"0000000000 65535 f \n"
        for num in range(1, count):
            out += f"{offsets[num]:010d} 00000 n \n".encode("ascii")
        out += f"trailer\n<< /Size {count} /Root 1 0 R".encode("ascii")
        out += enc_extra
        out += f" >>\nstartxref\n{xref_at}\n%%EOF\n".encode("ascii")
        return bytes(out)

    # PDF-1.5 cross-reference stream: /W [1 4 2] big-endian rows
    xref_id = max(max(objects), objstm_id) + 1
    xref_at = len(out)
    offsets[xref_id] = xref_at
    count = xref_id + 1
    rows = bytearray()
    for num in range(count):
        if num == 0:
            rows += struct.pack(">BIH", 0, 0, 65535)  # free-list head
        elif num in in_objstm:
            rows += struct.pack(">BIH", 2, objstm_id, in_objstm[num])
        else:
            rows += struct.pack(">BIH", 1, offsets[num], 0)
    parms = b""
    if predictor:
        # PNG Up filter per 7-byte row (what real writers emit)
        filtered = bytearray()
        prev = bytes(7)
        for i in range(0, len(rows), 7):
            row = bytes(rows[i : i + 7])
            filtered.append(2)  # Up
            filtered += bytes((row[j] - prev[j]) & 0xFF for j in range(7))
            prev = row
        rows = filtered
        parms = b" /DecodeParms << /Predictor 12 /Columns 7 >>"
    data = zlib.compress(bytes(rows), 9)
    out += f"{xref_id} 0 obj\n".encode("ascii")
    out += (
        f"<< /Type /XRef /Size {count} /W [ 1 4 2 ] /Root 1 0 R".encode("ascii")
        + enc_extra
        + b" /Filter /FlateDecode"
        + parms
        + f" /Length {len(data)} >>".encode("ascii")
    )
    out += b"\nstream\n" + data + b"\nendstream\nendobj\n"
    out += f"startxref\n{xref_at}\n%%EOF\n".encode("ascii")
    return bytes(out)


# ---------------------------------------------------------------------------
# object-level parser (lexer + recursive descent)
# ---------------------------------------------------------------------------

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num


class _Name(str):
    """A PDF name token (distinct from a string value)."""


class _Lexer:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def skip_ws(self) -> None:
        d, n = self.data, len(self.data)
        while self.pos < n:
            c = self.data[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # % comment to end of line
                while self.pos < n and d[self.pos] not in b"\r\n":
                    self.pos += 1
            else:
                return

    def peek(self) -> int:
        return self.data[self.pos] if self.pos < len(self.data) else -1

    def keyword(self) -> str:
        """Read a bare keyword/operator token (obj, stream, BT, Tj, ')."""
        self.skip_ws()
        start = self.pos
        d, n = self.data, len(self.data)
        while self.pos < n and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
            self.pos += 1
        return d[start : self.pos].decode("latin-1")

    def expect(self, kw: str) -> None:
        got = self.keyword()
        if got != kw:
            raise ValueError(f"pdf parse: expected {kw!r}, got {got!r}")

    # -- object grammar -----------------------------------------------------

    def object(self):
        self.skip_ws()
        c = self.peek()
        if c < 0:
            raise ValueError("pdf parse: unexpected EOF")
        if c == 0x3C:  # '<' : dict or hex string
            if self.data.startswith(b"<<", self.pos):
                return self._dict()
            return self._hex_string()
        if c == 0x5B:  # '['
            return self._array()
        if c == 0x28:  # '('
            return self._literal_string()
        if c == 0x2F:  # '/'
            return self._name()
        if c in b"+-.0123456789":
            return self._number_or_ref()
        kw = self.keyword()
        if kw == "true":
            return True
        if kw == "false":
            return False
        if kw == "null":
            return None
        raise ValueError(f"pdf parse: unexpected token {kw!r}")

    def _dict(self) -> dict:
        self.pos += 2  # <<
        out = {}
        while True:
            self.skip_ws()
            if self.data.startswith(b">>", self.pos):
                self.pos += 2
                return out
            key = self._name()
            out[str(key)] = self.object()

    def _array(self) -> list:
        self.pos += 1  # [
        out = []
        while True:
            self.skip_ws()
            if self.peek() == 0x5D:  # ]
                self.pos += 1
                return out
            out.append(self.object())

    def _name(self) -> _Name:
        if self.peek() != 0x2F:
            raise ValueError("pdf parse: expected name")
        self.pos += 1
        d, n = self.data, len(self.data)
        out = bytearray()
        while self.pos < n:
            c = d[self.pos]
            if c in _WS or c in _DELIM:
                break
            if c == 0x23 and self.pos + 2 < n:  # #xx hex escape
                out.append(int(d[self.pos + 1 : self.pos + 3], 16))
                self.pos += 3
            else:
                out.append(c)
                self.pos += 1
        return _Name(out.decode("latin-1"))

    def _number_or_ref(self):
        num, is_int = self._number()
        if is_int and num >= 0:
            save = self.pos
            self.skip_ws()
            d = self.data
            m = re.match(rb"(\d+)\s+R(?![A-Za-z0-9])", d[self.pos : self.pos + 32])
            if m:
                self.pos += m.end()
                return _Ref(num)
            self.pos = save
        return num

    def _number(self):
        self.skip_ws()
        d, n = self.data, len(self.data)
        start = self.pos
        if self.peek() in b"+-":
            self.pos += 1
        is_int = True
        while self.pos < n and d[self.pos] in b"0123456789.":
            if d[self.pos] == 0x2E:
                is_int = False
            self.pos += 1
        tok = d[start : self.pos]
        return (int(tok) if is_int else float(tok)), is_int

    def _literal_string(self) -> bytes:
        self.pos += 1  # (
        d, n = self.data, len(self.data)
        out = bytearray()
        depth = 1
        while self.pos < n:
            c = d[self.pos]
            if c == 0x5C:  # backslash escape
                self.pos += 1
                if self.pos >= n:
                    break
                e = d[self.pos]
                if e in b"nrtbf":
                    out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e])
                    self.pos += 1
                elif e in b"01234567":  # up to 3 octal digits
                    oct_ = bytearray([e])
                    self.pos += 1
                    while len(oct_) < 3 and self.pos < n and d[self.pos] in b"01234567":
                        oct_.append(d[self.pos])
                        self.pos += 1
                    out.append(int(oct_, 8) & 0xFF)
                elif e in b"\r\n":  # line continuation: swallow EOL
                    self.pos += 1
                    if e == 0x0D and self.pos < n and d[self.pos] == 0x0A:
                        self.pos += 1
                else:  # \( \) \\ and unknown escapes -> the char itself
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                self.pos += 1
                if depth == 0:
                    return bytes(out)
                out.append(c)
            else:
                out.append(c)
                self.pos += 1
        raise ValueError("pdf parse: unterminated literal string")

    def _hex_string(self) -> bytes:
        self.pos += 1  # <
        d, n = self.data, len(self.data)
        digits = bytearray()
        while self.pos < n:
            c = d[self.pos]
            self.pos += 1
            if c == 0x3E:  # >
                if len(digits) % 2:
                    digits.append(0x30)  # odd count: pad trailing 0
                return bytes.fromhex(digits.decode("ascii"))
            if c in _WS:
                continue
            digits.append(c)
        raise ValueError("pdf parse: unterminated hex string")


# ---------------------------------------------------------------------------
# document model: xref, objects, page tree, streams
# ---------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")


def _paeth(a: int, b: int, c: int) -> int:
    """The PNG Paeth predictor of the left ``a``, upper ``b`` and
    upper-left ``c`` bytes."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_unfilter(data: bytes, off: int, h: int, stride: int, bpp: int) -> list[bytes]:
    """The ``h`` raw rows of PNG-filtered data starting at ``off``: every
    row is a filter byte (0 None / 1 Sub / 2 Up / 3 Average / 4 Paeth)
    followed by ``stride`` bytes filtered against the row above (zeros
    above the first), ``bpp`` bytes per pixel to the left.  Shared by
    the PDF ``/Predictor`` >= 10 decoder and the PNG image decoder.
    Raises ValueError on a truncated row or an unknown filter."""
    rows: list[bytes] = []
    prev = bytes(stride)
    for j in range(h):
        base = off + j * (stride + 1)
        ft = data[base]
        line = bytearray(data[base + 1 : base + 1 + stride])
        if len(line) < stride:
            raise ValueError("pdf parse: truncated predictor row")
        if ft == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + (a + prev[i]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                c = prev[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + _paeth(a, prev[i], c)) & 0xFF
        elif ft != 0:
            raise ValueError(f"pdf parse: unknown PNG filter {ft}")
        prev = bytes(line)
        rows.append(prev)
    return rows


def _png_unpredict(data: bytes, columns: int, colors: int, bpc: int) -> bytes:
    """Undo PNG row predictors (``/Predictor`` >= 10) over rows of
    ``columns * colors * bpc/8`` bytes.  Xref streams use Colors=1
    BitsPerComponent=8, but the general form costs nothing."""
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    h = -(-len(data) // (rowlen + 1))
    return b"".join(_png_unfilter(data, 0, h, rowlen, bpp))


def _ascii_hex_decode(raw: bytes) -> bytes:
    """/ASCIIHexDecode: hex pairs, whitespace ignored, ``>`` terminates,
    odd trailing digit padded with 0 (PDF 32000 §7.4.2)."""
    digits = bytearray()
    for c in raw:
        if c == 0x3E:  # >
            break
        if c in _WS:
            continue
        digits.append(c)
    if len(digits) % 2:
        digits.append(0x30)
    try:
        return bytes.fromhex(digits.decode("ascii"))
    except ValueError:
        raise ValueError("pdf parse: bad ASCIIHexDecode data")


def _ascii85_decode(raw: bytes) -> bytes:
    """/ASCII85Decode: base-85 groups, ``z`` = four zero bytes, ``~>``
    terminates, 1-4 char partial final group (PDF 32000 §7.4.3)."""
    out = bytearray()
    group: list[int] = []
    i, n = 0, len(raw)
    while i < n:
        c = raw[i]
        if c in _WS:
            i += 1
            continue
        if c == 0x7E:  # ~> end marker
            break
        if c == 0x7A and not group:  # z shorthand
            out += b"\x00\x00\x00\x00"
            i += 1
            continue
        if not 0x21 <= c <= 0x75:
            raise ValueError("pdf parse: bad ASCII85 character")
        group.append(c - 0x21)
        if len(group) == 5:
            v = 0
            for g in group:
                v = v * 85 + g
            if v > 0xFFFFFFFF:
                raise ValueError("pdf parse: ASCII85 group overflow")
            out += v.to_bytes(4, "big")
            group = []
        i += 1
    if group:
        if len(group) == 1:
            raise ValueError("pdf parse: lone ASCII85 trailing character")
        k = len(group)
        v = 0
        for g in group + [84] * (5 - k):
            v = v * 85 + g
        out += v.to_bytes(4, "big")[: k - 1]
    return bytes(out)


def _run_length_decode(raw: bytes) -> bytes:
    """/RunLengthDecode: length byte L then either L+1 literal bytes
    (L <= 127) or one byte repeated 257-L times (L >= 129); 128 = EOD
    (PDF 32000 §7.4.5)."""
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        ln = raw[i]
        if ln == 128:
            break
        if ln <= 127:
            chunk = raw[i + 1 : i + 2 + ln]
            if len(chunk) < ln + 1:
                raise ValueError("pdf parse: truncated RunLength literal")
            out += chunk
            i += 2 + ln
        else:
            if i + 1 >= n:
                raise ValueError("pdf parse: truncated RunLength run")
            out += bytes([raw[i + 1]]) * (257 - ln)
            i += 2
    return bytes(out)


def _pdf_lzw_decode(raw: bytes, early_change: int = 1) -> bytes:
    """/LZWDecode (PDF 32000 §7.4.4): the TIFF/PDF LZW flavour —
    big-endian bit packing (unlike GIF's little-endian), fixed 8-bit
    symbols (256=clear, 257=EOD), code width 9→12, and the
    ``EarlyChange`` quirk: with the default 1, the width bumps one code
    EARLIER than the table arithmetic requires."""
    out = bytearray()
    pos_bits = 0
    total_bits = len(raw) * 8
    table: list[bytes] = []
    width = 9
    prev: bytes | None = None

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9
        prev = None

    reset()
    while pos_bits + width <= total_bits:
        byte0 = pos_bits // 8
        window = int.from_bytes(raw[byte0 : byte0 + 4].ljust(4, b"\0"), "big")
        code = (window >> (32 - (pos_bits % 8) - width)) & ((1 << width) - 1)
        pos_bits += width
        if code == 256:
            reset()
            continue
        if code == 257:
            return bytes(out)
        if prev is None:
            if code >= len(table):
                raise ValueError("pdf parse: bad first LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]
        else:
            raise ValueError("pdf parse: LZW code out of range")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) + early_change >= (1 << width) and width < 12:
                width += 1
        prev = entry
    raise ValueError("pdf parse: LZW data ended without EOD")


def _pdf_lzw_encode(data: bytes, early_change: int = 1) -> bytes:
    """PDF/TIFF-flavour LZW encoder (big-endian bits, 256=clear,
    257=EOD, EarlyChange).  The width-bump check runs after EVERY
    output, before the pending insert — the same compress-style
    structure as the GIF encoder — because only that placement keeps
    the decoder's lagged insertions synchronized across the final
    flush-then-EOD boundary (a just-in-time check desyncs there: the
    flush emission has no insert, so the encoder's free counter lags
    the decoder's table by one exactly at EOD)."""
    out = bytearray()
    acc = 0
    nbits = 0
    table: dict[bytes, int] = {}
    free = 0
    width = 9

    def reset() -> None:
        nonlocal table, free, width
        table = {bytes([i]): i for i in range(256)}
        free = 258
        width = 9

    def emit(code: int) -> None:
        nonlocal acc, nbits, width
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
        if free + early_change >= (1 << width) and width < 12:
            width += 1

    reset()
    emit(256)
    cur = b""
    for c in data:
        nxt = cur + bytes([c])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur])
        if free < 4096:
            table[nxt] = free
            free += 1
        else:
            emit(256)
            reset()
        cur = bytes([c])
    if cur:
        emit(table[cur])
    emit(257)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _ascii_hex_encode(data: bytes) -> bytes:
    return data.hex().encode("ascii") + b">"


def _ascii85_encode(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 4):
        chunk = data[i : i + 4]
        pad = 4 - len(chunk)
        v = int.from_bytes(chunk + b"\0" * pad, "big")
        digits = []
        for _ in range(5):
            digits.append(v % 85)
            v //= 85
        enc = bytes(d + 0x21 for d in reversed(digits))
        if pad == 0 and enc == b"!!!!!":
            out += b"z"
        else:
            out += enc[: 5 - pad]
    return bytes(out) + b"~>"


def _run_length_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        j = i
        while j < n and j - i < 128:
            if j + 2 < n and data[j] == data[j + 1] == data[j + 2]:
                break
            j += 1
        out += bytes([j - i - 1]) + data[i:j]
        i = j
    return bytes(out) + b"\x80"


# builder-side filter table: name -> (PDF /Filter name, encoder)
_BUILD_FILTERS = {
    "flate": (b"/FlateDecode", lambda b: zlib.compress(b, 9)),
    "lzw": (b"/LZWDecode", _pdf_lzw_encode),
    "ahx": (b"/ASCIIHexDecode", _ascii_hex_encode),
    "a85": (b"/ASCII85Decode", _ascii85_encode),
    "rl": (b"/RunLengthDecode", _run_length_encode),
}


def _decode_stream(raw: bytes, filt, parms, resolve=lambda v: v) -> bytes:
    """Apply a stream's filter chain — FlateDecode, LZWDecode,
    ASCIIHexDecode, ASCII85Decode, RunLengthDecode; anything else
    (DCT/JBIG2/CCITT image codecs, Crypt) raises, contained per
    document by the kernel's F18 guard — plus any PNG ``/Predictor``
    in the matching DecodeParms entry (Flate and LZW)."""
    filt = resolve(filt)
    filters = [] if filt is None else (filt if isinstance(filt, list) else [filt])
    parms = resolve(parms)
    parm_list = (
        [] if parms is None else (parms if isinstance(parms, list) else [parms])
    )
    for i, f in enumerate(filters):
        f = str(resolve(f))
        p = resolve(parm_list[i]) if i < len(parm_list) else None
        p = p if isinstance(p, dict) else {}
        if f == "FlateDecode":
            raw = zlib.decompress(raw)
        elif f == "LZWDecode":
            raw = _pdf_lzw_decode(
                raw, int(resolve(p.get("EarlyChange", 1)) or 0)
            )
        elif f == "ASCIIHexDecode":
            raw = _ascii_hex_decode(raw)
        elif f == "ASCII85Decode":
            raw = _ascii85_decode(raw)
        elif f == "RunLengthDecode":
            raw = _run_length_decode(raw)
        else:
            raise ValueError(f"pdf parse: unsupported filter {f!r}")
        if f in ("FlateDecode", "LZWDecode"):
            pred = int(resolve(p.get("Predictor", 1)) or 1)
            if pred >= 10:
                raw = _png_unpredict(
                    raw,
                    int(resolve(p.get("Columns", 1)) or 1),
                    int(resolve(p.get("Colors", 1)) or 1),
                    int(resolve(p.get("BitsPerComponent", 8)) or 8),
                )
            elif pred != 1:
                raise ValueError(f"pdf parse: unsupported predictor {pred}")
    return raw


class _Document:
    def __init__(self, data: bytes):
        self.data = data
        self._cache: dict[int, object] = {}
        self._streams: dict[int, bytes] = {}
        self.in_objstm: dict[int, tuple[int, int]] = {}
        self._enc_key: bytes | None = None
        self._enc_cfm: str = "rc4"
        self.offsets = self._load_xref()
        self._init_encryption()

    def _init_encryption(self) -> None:
        """Activate the standard security handler when the trailer has
        /Encrypt: verify the EMPTY user password against /U and derive
        the file key.  Unsupported handlers/versions and non-empty
        passwords raise (contained per document by the kernel guard).
        Idempotent — the damaged-xref recovery path calls it early so
        object streams it expands decrypt correctly."""
        if self._enc_key is not None or not isinstance(self.trailer, dict):
            return
        enc_ref = self.trailer.get("Encrypt")
        if enc_ref is None:
            return
        enc = self.resolve(enc_ref)
        if not isinstance(enc, dict) or enc.get("Filter") != "Standard":
            raise ValueError("pdf parse: unsupported encryption handler")
        v = int(self.resolve(enc.get("V", 0)))
        rev = int(self.resolve(enc.get("R", 0)))
        if (
            not (v in (1, 2) and rev in (2, 3))
            and not (v == 4 and rev == 4)
            and not (v == 5 and rev in (5, 6))
        ):
            raise ValueError("pdf parse: unsupported encryption version")
        if v == 1:
            klen = 5
        elif v == 5:
            klen = 32
        else:
            klen = int(self.resolve(enc.get("Length", 40 if v == 2 else 128))) // 8
        if v != 5 and not 5 <= klen <= 16:
            raise ValueError("pdf parse: bad key length")
        cfm = "rc4"
        if v in (4, 5):
            # crypt-filter dictionary walk (§7.6.5): the stream filter
            # named by /StmF resolves through /CF to its /CFM method
            stmf = str(enc.get("StmF", "Identity"))
            if stmf == "Identity":
                cfm = "identity"
            else:
                cf = self.resolve(enc.get("CF"))
                cfdict = (
                    self.resolve(cf.get(stmf)) if isinstance(cf, dict) else None
                )
                method = (
                    str(cfdict.get("CFM", "")) if isinstance(cfdict, dict)
                    else ""
                )
                if method == "AESV2" and v == 4:
                    cfm = "aesv2"
                    cf_len = cfdict.get("Length")
                    if cf_len is not None:
                        # /CF /Length is in BYTES (some writers use bits;
                        # accept both spellings of 128-bit)
                        cl = int(self.resolve(cf_len))
                        klen = cl // 8 if cl >= 40 else cl
                elif method == "AESV3" and v == 5:
                    cfm = "aesv3"
                elif method == "V2" and v == 4:
                    cfm = "rc4"
                else:
                    raise ValueError(
                        f"pdf parse: unsupported crypt filter {method!r}"
                    )
            if v == 4 and not 5 <= klen <= 16:
                raise ValueError("pdf parse: bad key length")
            if self.resolve(enc.get("EncryptMetadata")) is False:
                self._enc_meta_false = True
        o_entry = enc.get("O")
        u_entry = enc.get("U")
        if not isinstance(o_entry, bytes) or not isinstance(u_entry, bytes):
            raise ValueError("pdf parse: bad O/U entries")
        if v == 5:
            # ISO 32000-2 V5: verify the empty USER password against
            # /U = hash(32) + validation-salt(8) + key-salt(8), then
            # unwrap the 256-bit file key from /UE (Algorithms 2.A/11/8)
            if len(u_entry) < 48:
                raise ValueError("pdf parse: bad /U length for V5")
            vsalt, ksalt = u_entry[32:40], u_entry[40:48]
            if _hash_v5(b"", vsalt, rev) != u_entry[:32]:
                raise ValueError("pdf parse: password required")
            ue = enc.get("UE")
            if not isinstance(ue, bytes) or len(ue) < 32:
                raise ValueError("pdf parse: bad /UE entry")
            key = aes_cbc_nopad_decrypt(
                _hash_v5(b"", ksalt, rev), b"\x00" * 16, ue[:32]
            )
            pblob = self.resolve(enc.get("Perms"))
            if rev == 6:
                # Algorithm 13: /Perms decrypts under the file key to
                # ... 'adb' at bytes 9-11 — a wrong key (forged /UE)
                # fails here rather than producing garbage pages
                if not isinstance(pblob, bytes) or len(pblob) < 16:
                    raise ValueError("pdf parse: missing /Perms")
                if aes_decrypt_block(pblob[:16], key)[9:12] != b"adb":
                    raise ValueError(
                        "pdf parse: /Perms integrity check failed"
                    )
            self._enc_key = key
            self._enc_cfm = cfm
            return
        perms = int(self.resolve(enc.get("P", -1)))
        ids = self.trailer.get("ID")
        id0 = (
            ids[0]
            if isinstance(ids, list) and ids and isinstance(ids[0], bytes)
            else b""
        )
        key = _std_file_key(
            b"", o_entry, perms, id0, rev, klen,
            meta_false=getattr(self, "_enc_meta_false", False),
        )
        expect = _std_user_entry(key, id0, rev)
        # R3+ compares only the first 16 bytes (the tail is arbitrary)
        ok = expect[:16] == u_entry[:16] if rev >= 3 else expect == u_entry[:32]
        if not ok:
            raise ValueError("pdf parse: password required")
        self._enc_key = key
        self._enc_cfm = cfm

    # -- xref ---------------------------------------------------------------

    def _parse_xref_table(self, pos: int):
        """Classic ``xref`` table section -> (offsets, trailer dict)."""
        data = self.data
        lex = _Lexer(data, pos)
        lex.expect("xref")
        offsets: dict[int, int] = {}
        while True:
            lex.skip_ws()
            if data.startswith(b"trailer", lex.pos):
                lex.expect("trailer")
                trailer = lex.object()
                if not isinstance(trailer, dict):
                    raise ValueError("bad trailer")
                return offsets, trailer
            first, _ = lex._number()
            count, _ = lex._number()
            for i in range(count):
                lex.skip_ws()
                entry = data[lex.pos : lex.pos + 18]
                off, _gen, kind = entry.split()[:3]
                if kind == b"n":
                    offsets.setdefault(first + i, int(off))
                lex.pos += 18

    def _parse_xref_stream(self, pos: int):
        """PDF-1.5 cross-reference STREAM section at ``pos`` ->
        (offsets, in_objstm, trailer dict).  Rows are ``/W``-packed
        big-endian fields (a zero width defaults the field: type->1);
        ``/Index`` pairs scope subsections; the stream dict doubles as
        the trailer (``/Root``, ``/Prev``)."""
        lex = _Lexer(self.data, pos)
        num, _ = lex._number()
        lex._number()  # generation
        lex.expect("obj")
        d = lex.object()
        if not (isinstance(d, dict) and d.get("Type") == "XRef"):
            raise ValueError("pdf parse: not an xref stream")
        lex.skip_ws()
        if not self.data.startswith(b"stream", lex.pos):
            raise ValueError("pdf parse: xref stream has no stream")
        lex.pos += len(b"stream")
        if self.data.startswith(b"\r\n", lex.pos):
            lex.pos += 2
        elif self.data.startswith(b"\n", lex.pos):
            lex.pos += 1
        length = d.get("Length")
        if isinstance(length, _Ref):
            raise ValueError("pdf parse: xref stream /Length must be direct")
        raw = self.data[lex.pos : lex.pos + int(length)]
        raw = _decode_stream(raw, d.get("Filter"), d.get("DecodeParms"))
        widths = [int(w) for w in d.get("W", [])]
        if not widths or len(widths) > 8:
            raise ValueError("pdf parse: bad /W in xref stream")
        rowlen = sum(widths)
        size = int(d.get("Size", 0))
        index = d.get("Index") or [0, size]
        offsets: dict[int, int] = {}
        in_objstm: dict[int, tuple[int, int]] = {}
        p = 0
        for s in range(0, len(index) - 1, 2):
            first, count = int(index[s]), int(index[s + 1])
            for i in range(count):
                row = raw[p : p + rowlen]
                if len(row) < rowlen:
                    raise ValueError("pdf parse: truncated xref stream")
                p += rowlen
                fields = []
                q = 0
                for w in widths:
                    fields.append(
                        int.from_bytes(row[q : q + w], "big") if w else None
                    )
                    q += w
                ftype = fields[0] if fields[0] is not None else 1
                objnum = first + i
                if ftype == 1 and fields[1] is not None:
                    offsets.setdefault(objnum, fields[1])
                elif ftype == 2 and fields[1] is not None:
                    in_objstm.setdefault(objnum, (fields[1], fields[2] or 0))
                # type 0 = free: skip
        return offsets, in_objstm, d

    def _load_xref(self) -> dict[int, int]:
        data = self.data
        try:
            tail = data[-256:]
            m = re.search(rb"startxref\s+(\d+)", tail)
            if not m:
                raise ValueError("no startxref")
            offsets: dict[int, int] = {}
            self.trailer: dict = {}
            pos = int(m.group(1))
            seen: set[int] = set()
            while pos is not None and pos not in seen and 0 <= pos < len(data):
                seen.add(pos)
                probe = _Lexer(data, pos)
                probe.skip_ws()
                if data.startswith(b"xref", probe.pos):
                    sec_off, tdict = self._parse_xref_table(probe.pos)
                    sec_stm: dict[int, tuple[int, int]] = {}
                else:
                    sec_off, sec_stm, tdict = self._parse_xref_stream(probe.pos)
                # newest section wins: earlier setdefault shadows /Prev
                for k, v in sec_off.items():
                    if k not in self.in_objstm:
                        offsets.setdefault(k, v)
                for k, v in sec_stm.items():
                    if k not in offsets:
                        self.in_objstm.setdefault(k, v)
                if not self.trailer:
                    self.trailer = tdict
                prev = tdict.get("Prev")
                pos = int(prev) if isinstance(prev, (int, float)) else None
            if not isinstance(self.trailer, dict) or not self.trailer.get("Root"):
                raise ValueError("no Root in trailer")
            return offsets
        except Exception:
            # damaged/absent xref: recover by scanning for "N G obj" —
            # last occurrence of an object number wins (incremental
            # updates append redefinitions)
            self.in_objstm = {}
            offsets = {}
            for m in _OBJ_RE.finditer(data):
                offsets[int(m.group(1))] = m.start()
            # make get()/resolve() usable during recovery
            self.offsets = offsets
            t = data.rfind(b"trailer")
            self.trailer = {}
            if t >= 0:
                lex = _Lexer(data, t)
                lex.expect("trailer")
                try:
                    obj = lex.object()
                    if isinstance(obj, dict):
                        self.trailer = obj
                except Exception:
                    pass
            if not self.trailer.get("Root"):
                # xref-stream files have no "trailer" keyword — the
                # newest /Type /XRef dict is the trailer (/Root, and
                # /Encrypt + /ID when the file is encrypted)
                best = None
                for num in offsets:
                    try:
                        o = self._load_at(offsets, num)
                    except Exception:
                        continue
                    if isinstance(o, dict) and o.get("Type") == "XRef":
                        if best is None or offsets[num] > best[0]:
                            best = (offsets[num], o)
                if best is not None:
                    self.trailer = dict(best[1])
            # activate decryption before expanding object streams the
            # scan surfaced — their payloads are encrypted
            self._init_encryption()
            # expand any object streams the scan surfaced (their packed
            # objects — often the catalog itself — have no top-level
            # "N G obj" header for the regex to find)
            for num in list(offsets):
                try:
                    o = self._load_at(offsets, num)
                    if not (isinstance(o, dict) and o.get("Type") == "ObjStm"):
                        continue
                    payload = self.stream_bytes(num)
                    hdr = _Lexer(payload)
                    for idx in range(int(self.resolve(o.get("N", 0)))):
                        onum, _ = hdr._number()
                        hdr._number()  # offset (positional lookup later)
                        if onum not in offsets:
                            self.in_objstm.setdefault(onum, (num, idx))
                except Exception:
                    continue
            if not self.trailer.get("Root"):
                # no trailer either: find the catalog by inspection
                for num in list(offsets) + list(self.in_objstm):
                    try:
                        o = self.get(num)
                    except Exception:
                        continue
                    if isinstance(o, dict) and o.get("Type") == "Catalog":
                        self.trailer = {"Root": _Ref(num)}
                        break
            return offsets

    # -- objects ------------------------------------------------------------

    def _load_at(self, offsets: dict[int, int], num: int):
        lex = _Lexer(self.data, offsets[num])
        got_num, _ = lex._number()
        lex._number()  # generation
        lex.expect("obj")
        obj = lex.object()
        lex.skip_ws()
        if isinstance(obj, dict) and self.data.startswith(b"stream", lex.pos):
            lex.pos += len(b"stream")
            if self.data.startswith(b"\r\n", lex.pos):
                lex.pos += 2
            elif self.data.startswith(b"\n", lex.pos):
                lex.pos += 1
            length = obj.get("Length")
            if isinstance(length, _Ref):
                length = self.resolve(length)
            raw = self.data[lex.pos : lex.pos + int(length)]
            self._streams[num] = raw
        return obj

    def get(self, num: int):
        if num not in self._cache:
            if num in self.offsets:
                self._cache[num] = self._load_at(self.offsets, num)
            elif num in self.in_objstm:
                self._cache[num] = self._load_from_objstm(num)
            else:
                raise ValueError(f"pdf parse: missing object {num}")
        return self._cache[num]

    def _load_from_objstm(self, num: int):
        """Resolve a type-2 xref entry: parse the containing object
        stream's ``N`` (num, offset) header pairs, then the object at
        ``/First + offset``.  Lookup is by object number (the spec makes
        the index positional, but real incremental updates can leave the
        index stale — the number is authoritative)."""
        stm_num, idx = self.in_objstm[num]
        container = self.resolve(self.get(stm_num))
        if not (isinstance(container, dict) and container.get("Type") == "ObjStm"):
            raise ValueError(f"pdf parse: object {stm_num} is not an ObjStm")
        payload = self.stream_bytes(stm_num)
        n = int(self.resolve(container.get("N", 0)))
        first = int(self.resolve(container.get("First", 0)))
        hdr = _Lexer(payload)
        pairs = []
        for _ in range(n):
            onum, _i = hdr._number()
            ooff, _i = hdr._number()
            pairs.append((onum, ooff))
        hit = next(
            (p for i, p in enumerate(pairs) if p[0] == num and i == idx), None
        ) or next((p for p in pairs if p[0] == num), None)
        if hit is None:
            raise ValueError(f"pdf parse: object {num} not in ObjStm {stm_num}")
        return _Lexer(payload, first + hit[1]).object()

    def resolve(self, v):
        while isinstance(v, _Ref):
            v = self.get(v.num)
        return v

    def raw_stream_bytes(self, num: int) -> bytes:
        """Stream bytes decrypted but NOT filter-decoded — what an image
        XObject consumer wants (its /DCTDecode payload IS the JPEG)."""
        obj = self.resolve(self.get(num))  # ensure loaded
        if num not in self._streams:
            raise ValueError(f"pdf parse: object {num} has no stream")
        raw = self._streams[num]
        if self._enc_key is not None and not (
            isinstance(obj, dict) and obj.get("Type") == "XRef"
        ):
            # decrypt BEFORE filters; cross-reference streams are never
            # encrypted (the spec exempts them — they must be readable
            # to find the /Encrypt dictionary in the first place)
            if self._enc_cfm == "aesv3":
                # V5: the file key is used directly (ISO 32000-2
                # dropped the per-object MD5 salting of Algorithm 1)
                raw = aes128_cbc_decrypt(self._enc_key, raw)
            elif self._enc_cfm == "aesv2":
                raw = aes128_cbc_decrypt(
                    _std_object_key(self._enc_key, num, aes=True), raw
                )
            elif self._enc_cfm != "identity":
                raw = _rc4(_std_object_key(self._enc_key, num), raw)
        return raw

    def stream_bytes(self, num: int) -> bytes:
        raw = self.raw_stream_bytes(num)
        obj = self.resolve(self.get(num))
        filt = self.resolve(obj.get("Filter")) if isinstance(obj, dict) else None
        parms = (
            self.resolve(obj.get("DecodeParms")) if isinstance(obj, dict) else None
        )
        return _decode_stream(raw, filt, parms, self.resolve)

    # -- page tree ----------------------------------------------------------

    def pages(self) -> list[dict]:
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise ValueError("pdf parse: no document catalog")
        out: list[dict] = []

        def walk(node, depth=0, inherited_res=None):
            if depth > 64:
                raise ValueError("pdf parse: page tree too deep")
            node = self.resolve(node)
            if not isinstance(node, dict):
                return
            # /Resources is inheritable down the page tree (§7.7.3.4)
            res = node.get("Resources", inherited_res)
            if node.get("Type") == "Page":
                if "Resources" not in node and res is not None:
                    node = dict(node)
                    node["Resources"] = res
                out.append(node)
                return
            for kid in self.resolve(node.get("Kids")) or []:
                walk(kid, depth + 1, res)

        walk(root.get("Pages"))
        return out

    def _font_decoder(self, fref):
        """Build this font's glyph-bytes -> text decoder (§9.6.6, §9.10):
        /ToUnicode CMap wins; then Type0/Identity-H decodes as UTF-16BE
        (Identity CID ordering, the only fallback available without the
        font program); then named or dict /Encoding with /BaseEncoding +
        /Differences; a font with none of these keeps the engine's
        documented UTF-8 fallback (the legacy fixture contract — a real
        built-in font encoding is unknowable without the font program)."""
        fdict = self.resolve(fref)
        if not isinstance(fdict, dict):
            return _decode_utf8
        tu = fdict.get("ToUnicode")
        if isinstance(tu, _Ref):
            lengths, mapping = _parse_tounicode(self.stream_bytes(tu.num))
            if mapping:
                return _cmap_decoder(lengths, mapping)
        if fdict.get("Subtype") == "Type0":
            return _decode_utf16be
        enc = self.resolve(fdict.get("Encoding"))
        if isinstance(enc, str):  # _Name subclasses str
            table = _BASE_ENCODINGS.get(str(enc))
            return _table_decoder(table) if table is not None else _decode_utf8
        if isinstance(enc, dict):
            base = _BASE_ENCODINGS.get(str(enc.get("BaseEncoding", "")))
            table = list(base if base is not None else _STANDARD)
            code = 0
            for el in self.resolve(enc.get("Differences")) or []:
                el = self.resolve(el)
                if isinstance(el, bool):
                    continue
                if isinstance(el, (int, float)):
                    code = int(el)
                elif isinstance(el, str):
                    if 0 <= code <= 255:
                        table[code] = _glyph_to_char(str(el))
                    code += 1
            return _table_decoder(table)
        return _decode_utf8

    def page_fonts(self, page: dict) -> dict:
        """Font-resource name (the Tf operand, e.g. 'F1') -> decoder."""
        res = self.resolve(page.get("Resources"))
        fonts: dict = {}
        if isinstance(res, dict):
            fmap = self.resolve(res.get("Font"))
            if isinstance(fmap, dict):
                for name, fref in fmap.items():
                    fonts[str(name)] = self._font_decoder(fref)
        return fonts

    def page_content(self, page: dict) -> bytes:
        contents = page.get("Contents")
        refs = contents if isinstance(contents, list) else [contents]
        chunks = []
        for r in refs:
            r = r if isinstance(r, _Ref) else None
            if r is None:
                continue
            chunks.append(self.stream_bytes(r.num))
        # multiple streams form ONE logical stream, whitespace-joined
        return b"\n".join(chunks)


# ---------------------------------------------------------------------------
# simple-font encodings + ToUnicode CMaps (PDF 32000-1:2008 §9.6.6, §9.10.3,
# Annex D) — the layer that separates this parser from "decode as UTF-8".
# Real writers (Word, LaTeX, print-to-PDF) emit /WinAnsiEncoding or
# /MacRomanEncoding base encodings, /Differences override arrays, and
# /ToUnicode CMaps; pdfplumber resolves all of these for the reference
# (pdfextraction.py:33-35).  Decoding is per glyph run: the interpreter
# tracks the Tf-selected font and hands each run's bytes to that font's
# decoder.
# ---------------------------------------------------------------------------


def _codec_table(codec: str) -> list:
    t = []
    for b in range(256):
        try:
            t.append(bytes([b]).decode(codec))
        except UnicodeDecodeError:
            t.append(None)
    return t


# PDF WinAnsiEncoding == Windows-1252's defined codes (Annex D.2); the five
# cp1252 holes (0x81 8D 8F 90 9D) stay undefined and decode to U+FFFD.
_WINANSI = _codec_table("cp1252")
# Adobe's MacRomanEncoding is pre-Mac-OS-8.5 Mac Roman: 0xDB is /currency
# (U+00A4), not the euro Python's mac_roman codec has, and the 0xF0 Apple
# logo (private use) is not in Adobe's table.
_MACROMAN = _codec_table("mac_roman")
_MACROMAN[0xDB] = "¤"
_MACROMAN[0xF0] = None
# StandardEncoding (Annex D.2): ASCII with the two typographic quotes
# swapped in, plus the defined high-code punctuation/ligature set.
_STANDARD: list = [None] * 256
for _b in range(32, 127):
    _STANDARD[_b] = chr(_b)
_STANDARD[0x27] = "’"  # quoteright
_STANDARD[0x60] = "‘"  # quoteleft
for _code, _ch in {
    0xA1: "¡", 0xA2: "¢", 0xA3: "£", 0xA4: "⁄",
    0xA5: "¥", 0xA6: "ƒ", 0xA7: "§", 0xA8: "¤",
    0xA9: "'", 0xAA: "“", 0xAB: "«", 0xAC: "‹",
    0xAD: "›", 0xAE: "ﬁ", 0xAF: "ﬂ", 0xB1: "–",
    0xB2: "†", 0xB3: "‡", 0xB4: "·", 0xB6: "¶",
    0xB7: "•", 0xB8: "‚", 0xB9: "„", 0xBA: "”",
    0xBB: "»", 0xBC: "…", 0xBD: "‰", 0xBF: "¿",
    0xC1: "`", 0xC2: "´", 0xC3: "ˆ", 0xC4: "˜",
    0xC5: "¯", 0xC6: "˘", 0xC7: "˙", 0xC8: "¨",
    0xCA: "˚", 0xCB: "¸", 0xCD: "˝", 0xCE: "˛",
    0xCF: "ˇ", 0xD0: "—", 0xE1: "Æ", 0xE3: "ª",
    0xE8: "Ł", 0xE9: "Ø", 0xEA: "Œ", 0xEB: "º",
    0xF1: "æ", 0xF5: "ı", 0xF8: "ł", 0xF9: "ø",
    0xFA: "œ", 0xFB: "ß",
}.items():
    _STANDARD[_code] = _ch

_BASE_ENCODINGS = {
    "WinAnsiEncoding": _WINANSI,
    "MacRomanEncoding": _MACROMAN,
    "StandardEncoding": _STANDARD,
}

# Adobe Glyph List subset: the names real /Differences arrays use for
# Latin text.  Anything else resolves through the uniXXXX / uXXXXXX
# forms (AGL §3), which cover all of Unicode including astral planes.
_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "endash": "–", "emdash": "—", "bullet": "•",
    "dagger": "†", "daggerdbl": "‡", "ellipsis": "…",
    "guillemotleft": "«", "guillemotright": "»",
    "guilsinglleft": "‹", "guilsinglright": "›",
    "exclamdown": "¡", "questiondown": "¿",
    "cent": "¢", "sterling": "£", "currency": "¤",
    "yen": "¥", "florin": "ƒ", "section": "§",
    "paragraph": "¶", "periodcentered": "·",
    "perthousand": "‰", "degree": "°", "plusminus": "±",
    "mu": "µ", "copyright": "©", "registered": "®",
    "trademark": "™", "Euro": "€", "fi": "ﬁ",
    "fl": "ﬂ", "germandbls": "ß", "ae": "æ",
    "AE": "Æ", "oe": "œ", "OE": "Œ", "oslash": "ø",
    "Oslash": "Ø", "aring": "å", "Aring": "Å",
    "ccedilla": "ç", "Ccedilla": "Ç", "ntilde": "ñ",
    "Ntilde": "Ñ", "dotlessi": "ı",
}
for _letter in "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ":
    _AGL[_letter] = _letter
# accented-letter names compose systematically: base letter + accent
import unicodedata as _ud  # noqa: E402  (table construction, module load)

for _base in "aeiouyAEIOUY":
    for _acc, _comb in (
        ("acute", "́"), ("grave", "̀"),
        ("circumflex", "̂"), ("dieresis", "̈"),
        ("tilde", "̃"),
    ):
        _composed = _ud.normalize("NFC", _base + _comb)
        if len(_composed) == 1:
            _AGL[_base + _acc] = _composed

# deterministic char -> name reverse map for the builder (sorted names,
# first name wins on aliases)
_AGL_REV: dict[str, str] = {}
for _nm in sorted(_AGL):
    _AGL_REV.setdefault(_AGL[_nm], _nm)

_UNI_NAME_RE = re.compile(r"uni([0-9A-Fa-f]{4})\Z")
_U_NAME_RE = re.compile(r"u([0-9A-Fa-f]{4,6})\Z")


def _glyph_to_char(name: str) -> str | None:
    """Glyph name -> character per the AGL algorithm (subset): the
    explicit list, then uniXXXX (BMP, non-surrogate), then uXXXX[XX]."""
    hit = _AGL.get(name)
    if hit is not None:
        return hit
    m = _UNI_NAME_RE.match(name)
    if m is None:
        m = _U_NAME_RE.match(name)
    if m is not None:
        cp = int(m.group(1), 16)
        if cp <= 0x10FFFF and not 0xD800 <= cp <= 0xDFFF:
            return chr(cp)
    return None


_CMAP_HEX_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>|\[|\]")
_MAX_CMAP_ENTRIES = 1 << 16


def _cmap_hexbytes(tok: bytes) -> bytes:
    tok = re.sub(rb"\s", b"", tok)
    if len(tok) % 2:
        tok += b"0"
    return bytes.fromhex(tok.decode("ascii"))


def _utf16be_str(b: bytes) -> str:
    return b.decode("utf-16-be", "replace")


def _parse_tounicode(data: bytes) -> tuple[tuple[int, ...], dict[bytes, str]]:
    """Parse a /ToUnicode CMap stream (§9.10.3): codespacerange lengths
    plus the bfchar/bfrange code -> Unicode mapping.  bfrange supports
    both destination forms (incrementing start value, and explicit
    array); range expansion is capped so a hostile <0000> <FFFF> sweep
    cannot blow up memory (raises, contained per document by F18)."""
    lengths: set[int] = set()
    mapping: dict[bytes, str] = {}

    def _grow(n: int) -> None:
        if len(mapping) + n > _MAX_CMAP_ENTRIES:
            raise ValueError("pdf parse: ToUnicode CMap too large")

    for m in re.finditer(
        rb"begincodespacerange(.*?)endcodespacerange", data, re.S
    ):
        for hm in _CMAP_HEX_RE.finditer(m.group(1)):
            if hm.group(1) is not None:
                lengths.add(len(_cmap_hexbytes(hm.group(1))))
    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
        toks = [
            _cmap_hexbytes(t.group(1))
            for t in _CMAP_HEX_RE.finditer(m.group(1))
            if t.group(1) is not None
        ]
        _grow(len(toks) // 2)
        for i in range(0, len(toks) - 1, 2):
            lengths.add(len(toks[i]))
            mapping[toks[i]] = _utf16be_str(toks[i + 1])
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
        toks: list = []  # bytes | "[" | "]"
        for t in _CMAP_HEX_RE.finditer(m.group(1)):
            toks.append(
                _cmap_hexbytes(t.group(1)) if t.group(1) is not None
                else t.group(0).decode("ascii")
            )
        i = 0
        while i + 2 < len(toks) or (i + 2 == len(toks) and toks[-1] == "["):
            lo, hi = toks[i], toks[i + 1]
            if not isinstance(lo, bytes) or not isinstance(hi, bytes):
                break
            lengths.add(len(lo))
            lo_i, hi_i = int.from_bytes(lo, "big"), int.from_bytes(hi, "big")
            if hi_i < lo_i:
                raise ValueError("pdf parse: inverted bfrange")
            count = hi_i - lo_i + 1
            _grow(count)
            nxt = toks[i + 2] if i + 2 < len(toks) else None
            if nxt == "[":
                j = i + 3
                k = 0
                while j < len(toks) and toks[j] != "]":
                    if k < count and isinstance(toks[j], bytes):
                        mapping[
                            (lo_i + k).to_bytes(len(lo), "big")
                        ] = _utf16be_str(toks[j])
                    j += 1
                    k += 1
                i = j + 1
            elif isinstance(nxt, bytes):
                # the LAST UTF-16 unit of the start value increments
                units = [
                    int.from_bytes(nxt[u : u + 2], "big")
                    for u in range(0, len(nxt) - 1, 2)
                ]
                for k in range(count):
                    us = list(units)
                    if us:
                        us[-1] += k
                    mapping[(lo_i + k).to_bytes(len(lo), "big")] = _utf16be_str(
                        b"".join(u.to_bytes(2, "big") for u in us)
                    )
                i += 3
            else:
                break
    return tuple(sorted(lengths)), mapping


def _decode_utf8(b: bytes) -> str:
    return b.decode("utf-8", "replace")


def _decode_utf16be(b: bytes) -> str:
    return b.decode("utf-16-be", "replace")


def _table_decoder(table: list):
    def decode(b: bytes) -> str:
        return "".join(
            table[c] if table[c] is not None else "�" for c in b
        )

    return decode


def _cmap_decoder(lengths: tuple[int, ...], mapping: dict[bytes, str]):
    """Fixed-length code consumption per the CMap's codespace lengths.
    With several lengths present the shortest mapped prefix wins (the
    synthetic builder emits uniform lengths; mixed-length real CMaps
    degrade per-code, never derail the whole run)."""
    ls = tuple(L for L in lengths if L > 0) or (1,)

    def decode(b: bytes) -> str:
        out = []
        i = 0
        n = len(b)
        while i < n:
            hit = None
            for L in ls:
                cand = b[i : i + L]
                if cand in mapping:
                    hit = mapping[cand]
                    i += L
                    break
            if hit is None:
                hit = "�"
                i += ls[0]
            out.append(hit)
        return "".join(out)

    return decode


# ---------------------------------------------------------------------------
# content-stream interpreter: text operators -> per-page text
# ---------------------------------------------------------------------------

# ---- inline images (BI .. ID .. EI, PDF 32000-1 §8.9.7) --------------------
# inline image dicts use abbreviated keys/values; both forms are legal

_INLINE_KEY_ABBREV = {
    "W": "Width",
    "H": "Height",
    "BPC": "BitsPerComponent",
    "CS": "ColorSpace",
    "F": "Filter",
    "DP": "DecodeParms",
    "D": "Decode",
    "IM": "ImageMask",
    "I": "Interpolate",
}
_INLINE_FILTER_ABBREV = {
    "AHx": "ASCIIHexDecode",
    "A85": "ASCII85Decode",
    "LZW": "LZWDecode",
    "Fl": "FlateDecode",
    "RL": "RunLengthDecode",
    "CCF": "CCITTFaxDecode",
    "DCT": "DCTDecode",
}
_INLINE_CS_ABBREV = {
    "G": "DeviceGray",
    "RGB": "DeviceRGB",
    "CMYK": "DeviceCMYK",
    "I": "Indexed",
}
_CS_CHANNELS = {"DeviceGray": 1, "DeviceRGB": 3, "DeviceCMYK": 4}


def _parse_inline_image(lex: "_Lexer") -> tuple[dict, bytes]:
    """After a ``BI`` operator: read the abbreviated key/value entries
    up to ``ID``, then the raw payload up to the ``EI`` delimiter.
    Keys are normalized to their full names.  Unfiltered payloads have
    an EXACT length (width x height x bits, row-padded) so an embedded
    'EI' byte pair cannot truncate them; filtered payloads scan for a
    whitespace-delimited EI (the standard heuristic — real encoders'
    CCITT/DCT streams do not contain one by construction), falling back
    to the first EI that ends at whitespace, a delimiter or EOF.  Leaves the
    lexer positioned after EI; raises ValueError on malformed input."""
    meta: dict = {}
    while True:
        lex.skip_ws()
        if lex.peek() == 0x2F:
            key = str(lex.object())
            val = lex.object()
            meta[_INLINE_KEY_ABBREV.get(key, key)] = val
            continue
        kw = lex.keyword()
        if kw == "ID":
            break
        if not kw:
            raise ValueError("pdf parse: unterminated inline image dict")
    d = lex.data
    pos = lex.pos
    if pos < len(d) and d[pos] in _WS:
        pos += 1  # exactly one whitespace byte follows ID (spec)
    if meta.get("Filter") is None:
        w = int(meta.get("Width", 0))
        h = int(meta.get("Height", 0))
        mask = meta.get("ImageMask") is True
        bpc = 1 if mask else int(meta.get("BitsPerComponent", 8))
        cs = str(meta.get("ColorSpace", "DeviceGray"))
        cs = _INLINE_CS_ABBREV.get(cs, cs)
        chans = 1 if mask else _CS_CHANNELS.get(cs, 1)
        nbytes = ((w * bpc * chans + 7) // 8) * h
        if w <= 0 or h <= 0 or pos + nbytes > len(d):
            raise ValueError("pdf parse: inline image data out of range")
        lex.pos = pos + nbytes
        lex.expect("EI")
        return meta, d[pos : pos + nbytes]
    n = len(d)

    def ends_operator(j: int) -> bool:
        return j + 2 >= n or d[j + 2] in _WS or d[j + 2] in _DELIM

    j = d.find(b"EI", pos)
    while j >= 0:
        if j > pos and d[j - 1] in _WS and ends_operator(j):
            lex.pos = j + 2
            return meta, d[pos : j - 1]
        j = d.find(b"EI", j + 2)
    # PDF 32000-1 does not require whitespace before EI: with no
    # whitespace-delimited EI, take the first one that ends the operator
    j = d.find(b"EI", pos)
    while j >= 0:
        if ends_operator(j):
            lex.pos = j + 2
            return meta, d[pos:j]
        j = d.find(b"EI", j + 2)
    raise ValueError("pdf parse: unterminated inline image data")


def _inline_image_listing(content: bytes) -> list[dict]:
    """All inline images of one content stream, in the shape
    extract_pdf_images uses for XObjects (abbreviations expanded, the
    payload raw/not filter-decoded)."""
    lex = _Lexer(content)
    n = len(content)
    out: list[dict] = []
    while True:
        lex.skip_ws()
        if lex.pos >= n:
            break
        if lex.peek() in b"([</+-.0123456789":
            try:
                lex.object()
            except ValueError:
                break
            continue
        op = lex.keyword()
        if not op:
            break
        if op != "BI":
            continue
        meta, data = _parse_inline_image(lex)
        filt = meta.get("Filter", "")
        if isinstance(filt, list):
            filt = filt[-1] if filt else ""
        filt = str(filt)
        cs = str(meta.get("ColorSpace", ""))
        parms = meta.get("DecodeParms")
        if isinstance(parms, list):
            parms = parms[-1] if parms else None
        out.append(
            {
                "name": f"Inline{len(out) + 1}",
                "width": int(meta.get("Width", 0)),
                "height": int(meta.get("Height", 0)),
                "filter": _INLINE_FILTER_ABBREV.get(filt, filt),
                "colorspace": _INLINE_CS_ABBREV.get(cs, cs),
                "decode_parms": (
                    {str(k): v for k, v in parms.items()}
                    if isinstance(parms, dict)
                    else None
                ),
                "data": data,
            }
        )
    return out


def _interpret_text(content: bytes, fonts: dict | None = None) -> str:
    """Run the text operators of one page's content stream.

    Glyph-run bytes accumulate per line as (font, bytes) runs — ``Tf``
    switches the current font mid-line — and each run decodes with its
    font's declared encoding (ToUnicode CMap / base encoding +
    Differences / Type0 / UTF-8 fallback, see ``_font_decoder``).
    Adjacent same-font runs concatenate BEFORE decoding, so a ``TJ``
    array that splits a multi-byte code (UTF-8 or a 2-byte CID) across
    show strings still reassembles correctly.  A line-move operator
    before any show in the current text block is positioning, not a
    break (no phantom leading blank line)."""
    fonts = fonts or {}
    lex = _Lexer(content)
    lines: list[str] = []
    runs: list[tuple[str | None, bytearray]] = []  # current line
    cur_font: str | None = None
    started = False  # has any show op run in the current text block?

    def show(b: bytes) -> None:
        nonlocal started
        if runs and runs[-1][0] == cur_font:
            runs[-1][1].extend(b)
        else:
            runs.append((cur_font, bytearray(b)))
        started = True

    def decode_line() -> str:
        return "".join(
            (fonts.get(f) or _decode_utf8)(bytes(b)) for f, b in runs
        )

    def newline():
        nonlocal runs
        if not started:
            return
        lines.append(decode_line())
        runs = []

    def flush_block():
        nonlocal runs, started
        if started:
            lines.append(decode_line())
        runs = []
        started = False

    stack: list = []
    n = len(content)
    while True:
        lex.skip_ws()
        if lex.pos >= n:
            break
        c = lex.peek()
        if c in b"([</+-.0123456789":  # any operand token (incl. << dicts)
            try:
                stack.append(lex.object())
            except ValueError:
                break
            continue
        op = lex.keyword()
        if not op:
            break
        if op == "BI":
            # inline image: skip its dict AND binary payload — the raw
            # bytes would otherwise be tokenized as (garbage) operators
            try:
                _parse_inline_image(lex)
            except ValueError:
                break
        elif op == "BT":
            pass
        elif op == "ET":
            flush_block()
        elif op == "Tf":
            for el in reversed(stack):
                if isinstance(el, _Name):
                    cur_font = str(el)
                    break
        elif op in ("Td", "TD"):
            ty = stack[-1] if stack else 0
            if isinstance(ty, (int, float)) and ty != 0:
                newline()
        elif op == "T*":
            newline()
        elif op == "Tm":
            newline()
        elif op == "Tj":
            if stack and isinstance(stack[-1], bytes):
                show(stack[-1])
        elif op == "'":
            newline()
            if stack and isinstance(stack[-1], bytes):
                show(stack[-1])
        elif op == '"':
            newline()
            if stack and isinstance(stack[-1], bytes):
                show(stack[-1])
        elif op == "TJ":
            if stack and isinstance(stack[-1], list):
                shown = b"".join(
                    el for el in stack[-1] if isinstance(el, bytes)
                )
                show(shown)
        stack = []
    flush_block()
    return "\n".join(lines)


def extract_pdf_pages(data: bytes) -> list[str]:
    """Per-page text from PDF bytes — the engine's analogue of
    ``[page.extract_text() for page in pdf.pages]``
    (/root/reference/pdfextraction.py:33-35).  Raises ValueError on
    bytes outside the supported subset; callers (the extraction kernel)
    contain that per document on the F18 error column."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("pdf parse: missing %PDF header")
    doc = _Document(data)
    pages = doc.pages()
    if not pages:
        raise ValueError("pdf parse: no pages in page tree")
    return [
        _interpret_text(doc.page_content(p), doc.page_fonts(p)) for p in pages
    ]


def extract_pdf_images(data: bytes) -> list[list[dict]]:
    """Per-page image-XObject listing — the input side of the
    reference's scanned-PDF path (pdfextraction.py:16 rasterizes the
    page; a real scanned page IS one embedded image).  Returns, per
    page, one dict per /Subtype /Image XObject: name, width, height,
    filter, colorspace, and ``data`` — the stream bytes decrypted but
    NOT filter-decoded, so a /DCTDecode image's data is the embedded
    JPEG bit-exactly (asserted in tests/test_pdf_images.py).  Raises
    ValueError on unsupported bytes like extract_pdf_pages (contained
    per document by the kernel's F18 guard)."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("pdf parse: missing %PDF header")
    doc = _Document(data)
    pages = doc.pages()
    if not pages:
        raise ValueError("pdf parse: no pages in page tree")
    out: list[list[dict]] = []
    for p in pages:
        res = doc.resolve(p.get("Resources"))
        imgs: list[dict] = []
        xobj = doc.resolve(res.get("XObject")) if isinstance(res, dict) else None
        if isinstance(xobj, dict):
            for name in sorted(xobj, key=str):
                ref = xobj[name]
                o = doc.resolve(ref)
                if not (
                    isinstance(o, dict)
                    and o.get("Subtype") == "Image"
                    and isinstance(ref, _Ref)
                ):
                    continue
                parms = doc.resolve(o.get("DecodeParms"))
                imgs.append(
                    {
                        "name": str(name),
                        "width": int(doc.resolve(o.get("Width", 0))),
                        "height": int(doc.resolve(o.get("Height", 0))),
                        "filter": str(doc.resolve(o.get("Filter", ""))),
                        "colorspace": str(doc.resolve(o.get("ColorSpace", ""))),
                        # resolved filter parameters (e.g. CCITT /K /Columns
                        # /Rows /BlackIs1) — a consumer needs them to decode
                        "decode_parms": (
                            {str(k): doc.resolve(v) for k, v in parms.items()}
                            if isinstance(parms, dict)
                            else None
                        ),
                        "data": doc.raw_stream_bytes(ref.num),
                    }
                )
        # inline images (BI..ID..EI) live in the content stream itself —
        # page_content already decrypted/unfiltered the stream, so the
        # payload needs no _protect handling here
        imgs.extend(_inline_image_listing(doc.page_content(p)))
        out.append(imgs)
    return out
