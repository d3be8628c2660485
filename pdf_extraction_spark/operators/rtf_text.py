r"""RTF text extraction — the legacy rich-text format a web-scale
corpus still meets constantly (old Office docs, email bodies, TextEdit
files).  Both directions are provided, from scratch:

* :func:`build_rtf` emits a real minimal RTF 1.x document
  (``{\rtf1\ansi\ansicpg1252...`` with a font table, color table and an
  ignorable ``\*\generator`` destination real writers emit).  Every
  character round-trips: ASCII is literal (``\\ \{ \}`` escaped),
  newlines/tabs become ``\line``/``\tab`` control words, cp1252-codable
  bytes become ``\'hh`` hex escapes, everything else becomes signed
  16-bit ``\uN?`` units (UTF-16 surrogate pairs for astral characters,
  exactly what Word emits) — so unlike the XML containers there is NO
  sanitize projection and the extraction identity is exact.
* :func:`extract_rtf_paragraphs` tokenizes the byte stream (groups,
  control words with signed parameters, control symbols, ``\'hh``
  escapes, ``\binN`` raw runs), skips non-content destinations
  (``\fonttbl \colortbl \stylesheet \info \pict ...`` and every
  ``\*``-marked ignorable destination), honours ``\ucN`` fallback
  skipping with group scoping, recombines ``\uN`` surrogate pairs, and
  decodes ``\'hh``/plain bytes with the codepage ``\ansicpgN``
  declares.  ``\par`` separates paragraphs; ``\line``/``\tab`` and the
  published symbol words (``\emdash \lquote \~`` ...) map to their
  characters.  Returns ``None`` when the bytes are not RTF.

Reference analogue: the reference extracts text per uploaded document
(pdfextraction.py:33-35); RTF is that job for the other legacy format.
The grammar implemented here is the published RTF 1.9.1 specification's
core (Word Processing > RTF Specification, public domain summary);
nothing is read from the reference implementation.
"""

from __future__ import annotations


# destinations whose content is NOT document text (RTF 1.9.1 §"Document
# Area" / "Header"): group is skipped entirely when one of these is the
# group's destination word
_SKIP_DESTS = frozenset(
    {
        "fonttbl",
        "colortbl",
        "stylesheet",
        "listtable",
        "listoverridetable",
        "info",
        "pict",
        "object",
        "header",
        "footer",
        "headerl",
        "headerr",
        "headerf",
        "footerl",
        "footerr",
        "footerf",
        "footnote",
        "annotation",
        "xe",
        "tc",
        "fldinst",
        "themedata",
        "colorschememapping",
        "latentstyles",
        "datastore",
    }
)

# control words that ARE text (RTF 1.9.1 "Special Characters")
_SYMBOL_WORDS = {
    "par": "\n",  # paragraph boundary — special-cased below
    "line": "\n",
    "tab": "\t",
    "emdash": "\u2014",
    "endash": "\u2013",
    "emspace": "\u2003",
    "enspace": "\u2002",
    "qmspace": "\u2005",
    "lquote": "\u2018",
    "rquote": "\u2019",
    "ldblquote": "\u201c",
    "rdblquote": "\u201d",
    "bullet": "\u2022",
    "zwj": "\u200d",
    "zwnj": "\u200c",
    "ltrmark": "\u200e",
    "rtlmark": "\u200f",
}

_SYMBOL_CHARS = {
    ord("~"): "\u00a0",  # non-breaking space
    ord("_"): "\u2011",  # non-breaking hyphen
    ord("-"): "",  # optional hyphen: render as nothing
    ord("\\"): "\\",
    ord("{"): "{",
    ord("}"): "}",
}


def _codec_for(cpg: int) -> str:
    """Python codec for an \\ansicpgN value; unknown pages fall back to
    cp1252 (the \\ansi default) rather than failing the document."""
    import codecs

    name = f"cp{cpg}"
    try:
        codecs.lookup(name)
        return name
    except LookupError:
        return "cp1252"


def build_rtf(paragraphs: list[str]) -> bytes:
    r"""A real minimal RTF document carrying ``paragraphs`` losslessly.

    The header includes the tables and an ignorable ``\*\generator``
    destination so extraction must actually skip destinations, and each
    paragraph is emitted in TWO adjacent groups (split at its midpoint)
    so extraction must merge text across group boundaries."""
    if not paragraphs:
        paragraphs = [""]

    def enc(part: str) -> str:
        out: list[str] = []
        for ch in part:
            o = ord(ch)
            if ch == "\\" or ch == "{" or ch == "}":
                out.append("\\" + ch)
            elif ch == "\n":
                out.append("\\line ")
            elif ch == "\t":
                out.append("\\tab ")
            elif 0x20 <= o < 0x80:
                out.append(ch)
            else:
                try:
                    (b,) = ch.encode("cp1252")
                    out.append(f"\\'{b:02x}")
                except (UnicodeEncodeError, ValueError):
                    units = ch.encode("utf-16-be")
                    for i in range(0, len(units), 2):
                        u = int.from_bytes(units[i : i + 2], "big")
                        if u >= 0x8000:
                            u -= 0x10000
                        out.append(f"\\u{u}?")
        return "".join(out)

    body: list[str] = []
    for i, p in enumerate(paragraphs):
        if i:
            body.append("\\par\n")
        half = len(p) // 2
        body.append("{" + enc(p[:half]) + "}{" + enc(p[half:]) + "}")
    doc = (
        "{\\rtf1\\ansi\\ansicpg1252\\deff0\\uc1"
        "{\\fonttbl{\\f0\\fswiss Helvetica;}}"
        "{\\colortbl;\\red0\\green0\\blue0;}"
        "{\\*\\generator pdf_extraction_spark 1.0;}"
        "\\f0\\fs24 " + "".join(body) + "}"
    )
    return doc.encode("ascii")


def extract_rtf_paragraphs(raw: bytes) -> list[str] | None:
    """Tokenize ``raw`` and return one string per paragraph, or None
    when the bytes are not RTF.  Malformed tails never raise — text
    recovered before the defect is returned (per-doc containment is the
    caller's F18 contract, but the parser itself is total)."""
    if not raw.startswith(b"{\\rtf"):
        return None
    codec = "cp1252"
    paras: list[str] = []
    cur: list[str] = []
    pending_high: int | None = None  # buffered UTF-16 high surrogate

    def flush_unit(u: int) -> None:
        nonlocal pending_high
        if pending_high is not None:
            if 0xDC00 <= u <= 0xDFFF:
                cp = 0x10000 + ((pending_high - 0xD800) << 10) + (u - 0xDC00)
                cur.append(chr(cp))
                pending_high = None
                return
            cur.append("\ufffd")
            pending_high = None
        if 0xD800 <= u <= 0xDBFF:
            pending_high = u
        elif 0xDC00 <= u <= 0xDFFF:
            cur.append("\ufffd")
        else:
            cur.append(chr(u))

    def emit(s: str) -> None:
        if pending_high is not None:
            flush_unit(0)  # resolves the dangling high to U+FFFD
            cur.pop()  # flush_unit(0) appended chr(0); drop it
        cur.append(s)

    n = len(raw)
    i = 0
    # group stack entries: [uc_count, skipping]
    stack: list[list[int]] = []
    uc, skipping = 1, 0
    byte_run: list[int] = []

    def flush_bytes() -> None:
        if byte_run:
            if not skipping:
                emit(bytes(byte_run).decode(codec, errors="replace"))
            byte_run.clear()

    def skip_fallback(pos: int, count: int) -> int:
        """Consume ``count`` fallback characters after a \\uN (RTF 1.9.1:
        a \\'hh escape counts as ONE character)."""
        while count > 0 and pos < n:
            c = raw[pos]
            if c == 0x5C and raw[pos + 1 : pos + 2] == b"'":
                pos += 4
            elif c in (0x7B, 0x7D, 0x5C):  # group/control: fallback over
                break
            elif c in (0x0D, 0x0A):
                pos += 1
                continue
            else:
                pos += 1
            count -= 1
        return pos

    while i < n:
        c = raw[i]
        if c == 0x7B:  # {
            flush_bytes()
            stack.append([uc, skipping])
            i += 1
        elif c == 0x7D:  # }
            flush_bytes()
            if stack:
                uc, skipping = stack.pop()
            i += 1
        elif c == 0x5C:  # backslash
            flush_bytes()
            i += 1
            if i >= n:
                break
            c2 = raw[i]
            if c2 == 0x27:  # \'hh
                h = raw[i + 1 : i + 3]
                i += 3
                try:
                    byte_run.append(int(h, 16))
                except ValueError:
                    pass
            elif (0x41 <= c2 <= 0x5A) or (0x61 <= c2 <= 0x7A):
                j = i
                while j < n and (0x41 <= raw[j] <= 0x5A or 0x61 <= raw[j] <= 0x7A):
                    j += 1
                word = raw[i:j].decode("ascii")
                param = None
                k = j
                if k < n and (raw[k] == 0x2D or 0x30 <= raw[k] <= 0x39):
                    m = k + 1 if raw[k] == 0x2D else k
                    while m < n and 0x30 <= raw[m] <= 0x39:
                        m += 1
                    if m > k + (1 if raw[k] == 0x2D else 0):
                        param = int(raw[k:m])
                        k = m
                if k < n and raw[k] == 0x20:  # the delimiting space
                    k += 1
                i = k
                if word == "u" and param is not None:
                    if not skipping:
                        # \u params are 16-bit signed (RTF 1.9.1); out-of-
                        # range values from broken writers become U+FFFD
                        u16 = param + 0x10000 if param < 0 else param
                        flush_unit(u16 if 0 <= u16 <= 0xFFFF else 0xFFFD)
                    i = skip_fallback(i, uc)
                elif word == "uc" and param is not None:
                    uc = max(0, param)
                elif word == "ansicpg" and param is not None:
                    codec = _codec_for(param)
                elif word == "bin":
                    i += max(0, param or 0)
                elif word == "par":
                    if not skipping:
                        paras.append("".join(cur))
                        cur.clear()
                elif word in _SYMBOL_WORDS:
                    if not skipping:
                        emit(_SYMBOL_WORDS[word])
                elif word in _SKIP_DESTS:
                    skipping = 1
            elif c2 == 0x2A:  # \* — ignorable destination
                skipping = 1
                i += 1
            elif c2 in _SYMBOL_CHARS:
                if not skipping and _SYMBOL_CHARS[c2]:
                    emit(_SYMBOL_CHARS[c2])
                i += 1
            elif c2 in (0x0D, 0x0A):  # \<CR>/<LF> == \par (spec)
                if not skipping:
                    paras.append("".join(cur))
                    cur.clear()
                i += 1
            else:
                i += 1  # unknown control symbol: ignore
        elif c in (0x0D, 0x0A):  # raw newlines are writer line-wrap
            i += 1
        else:
            if not skipping:
                byte_run.append(c)
            i += 1
            continue
    flush_bytes()
    if pending_high is not None:
        cur.append("\ufffd")
    paras.append("".join(cur))
    return paras
