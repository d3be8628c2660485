"""V5 AES-256 encrypted PDFs: FIPS-197 AES-192/256 vectors, the ISO
32000-2 R6 Algorithm 2.B password hash, the /UE file-key unwrap, the
/Perms integrity check, and the deprecated Acrobat-9 R5 revision.

The reference opens encrypted PDFs through its libraries' handlers
(pdfplumber/PyPDF2 delegate to their crypt providers); this engine
implements the V5 handler from scratch on top of the FIPS-197 AES in
crypto_aes.py."""

from __future__ import annotations

import hashlib
import re

import pytest

from pdf_extraction_spark.crypto_aes import (
    aes_cbc_nopad_decrypt,
    aes_cbc_nopad_encrypt,
    aes_decrypt_block,
    aes_encrypt_block,
)
from pdf_extraction_spark.pdf_parse import (
    _hash_r6,
    _hash_v5,
    build_pdf,
    extract_pdf_images,
    extract_pdf_pages,
)


def test_fips197_wide_key_vectors():
    """Appendix C.2 (AES-192) and C.3 (AES-256) — the Nk>4 key
    schedules, including the extra SubWord step for Nk=8."""
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    k192 = bytes.fromhex(
        "000102030405060708090a0b0c0d0e0f1011121314151617"
    )
    k256 = bytes.fromhex(
        "000102030405060708090a0b0c0d0e0f"
        "101112131415161718191a1b1c1d1e1f"
    )
    ct192 = aes_encrypt_block(pt, k192)
    ct256 = aes_encrypt_block(pt, k256)
    assert ct192 == bytes.fromhex("dda97ca4864cdfe06eaf70a0ec0d7191")
    assert ct256 == bytes.fromhex("8ea2b7ca516745bfeafc49904b496089")
    assert aes_decrypt_block(ct192, k192) == pt
    assert aes_decrypt_block(ct256, k256) == pt
    with pytest.raises(ValueError, match="key"):
        aes_encrypt_block(pt, b"\x00" * 20)


def test_nopad_cbc_roundtrip_and_alignment():
    key = bytes(range(32))
    iv = bytes(range(16))
    for n in (0, 16, 64, 256):
        data = (bytes(range(256)) * 2)[:n]
        enc = aes_cbc_nopad_encrypt(key, iv, data)
        assert len(enc) == n
        assert aes_cbc_nopad_decrypt(key, iv, enc) == data
    with pytest.raises(ValueError, match="aligned"):
        aes_cbc_nopad_encrypt(key, iv, b"x")
    with pytest.raises(ValueError, match="aligned"):
        aes_cbc_nopad_decrypt(key, iv, b"x" * 17)
    with pytest.raises(ValueError, match="IV"):
        aes_cbc_nopad_encrypt(key, b"short", b"")


def test_r6_hash_shape_and_sensitivity():
    """Algorithm 2.B: 32-byte output, deterministic, and sensitive to
    each of password / salt / trailing udata."""
    h = _hash_r6(b"", b"saltsalt")
    assert len(h) == 32
    assert h == _hash_r6(b"", b"saltsalt")
    assert h != _hash_r6(b"pw", b"saltsalt")
    assert h != _hash_r6(b"", b"SALTSALT")
    assert h != _hash_r6(b"", b"saltsalt", b"udata-block")


def _algorithm_2b(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 §7.6.4.3.4 Algorithm 2.B, transcribed step by step
    from the spec text with an independent AES (the ``cryptography``
    package) instead of crypto_aes."""
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

    # SHA-256 of the original input (password, salt, user key) is K
    k = hashlib.sha256(password + salt + udata).digest()
    round_number = 0
    while True:
        # (a) K1 = 64 repetitions of: password, K, the 48-byte user key
        k1 = (password + k + udata) * 64
        # (b) E = AES-128 (CBC, no padding) of K1; key = first 16 bytes
        # of K, initialization vector = second 16 bytes of K
        enc = Cipher(algorithms.AES(k[:16]), modes.CBC(k[16:32])).encryptor()
        e = enc.update(k1) + enc.finalize()
        # (c) first 16 bytes of E as an unsigned big-endian integer, mod 3
        # selects SHA-256 (0), SHA-384 (1) or SHA-512 (2)
        digest = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[
            int.from_bytes(e[:16], "big") % 3
        ]
        # (d) the hash of E is the new K
        k = digest(e).digest()
        round_number += 1
        # (e)/(f) after rounds 0..63, repeat while the last byte of E is
        # greater than the round number - 32
        if round_number >= 64 and e[-1] <= round_number - 32:
            return k[:32]  # the first 32 bytes of the final K


def test_r6_hash_matches_spec_transcription():
    """_hash_r6 equals Algorithm 2.B as written in the spec, run on an
    independent AES-128-CBC, for empty, ASCII and 127-byte (the spec's
    password cap) passwords, with and without the 48-byte user key."""
    salt = bytes(range(8))
    udata = hashlib.sha384(b"user key").digest()
    for password in (b"", b"ascii password", bytes(range(1, 128))):
        for u in (b"", udata):
            assert _hash_r6(password, salt, u) == _algorithm_2b(password, salt, u)
    assert _algorithm_2b(b"", b"saltsalt").hex() == (
        "f383e1cdcd8e7e67f45a599473d3f5a7bd181c381364391074cafe0713e3331d"
    )


def test_r5_hash_is_plain_sha256():
    assert _hash_v5(b"pw", b"saltsalt", 5, b"u") == hashlib.sha256(
        b"pw" + b"saltsalt" + b"u"
    ).digest()
    assert _hash_v5(b"", b"saltsalt", 6) == _hash_r6(b"", b"saltsalt")


@pytest.mark.parametrize("mode", ["aes-256", "aes-256-r5"])
def test_aes256_pdf_roundtrip_identity(mode):
    texts = ["aes-256 é 日本 😀\nsecond line", ""]
    for t in texts:
        pages = [t, t[::-1]]
        for kw in (
            {},
            {"xref_stream": True, "use_objstm": True},
            {"compress": False},
            {"font": "winansi"},
            {"font": "cid"},
        ):
            blob = build_pdf(pages, encrypt=mode, **kw)
            assert b"/AESV3" in blob
            assert extract_pdf_pages(blob) == pages, (mode, kw, t)


def test_aes256_encrypt_dict_shape():
    blob = build_pdf(["shape"], encrypt="aes-256")
    assert b"/V 5 /R 6 /Length 256" in blob
    assert b"/UE <" in blob and b"/OE <" in blob and b"/Perms <" in blob
    assert b"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >>" in blob
    blob5 = build_pdf(["shape"], encrypt="aes-256-r5")
    assert b"/V 5 /R 5 /Length 256" in blob5


def test_aes256_scan_recovery():
    pages = ["recovered through the damaged-xref scan", "page two"]
    blob = build_pdf(pages, encrypt="aes-256")
    blob = re.sub(rb"startxref\s+\d+", b"startxref\n0", blob)
    assert extract_pdf_pages(blob) == pages


def test_aes256_composes_with_dct_images():
    """An image XObject inside a V5-encrypted PDF must round-trip
    bit-exactly: raw_stream_bytes decrypts with the file key (no
    per-object salt) and leaves /DCTDecode untouched."""
    from pdf_extraction_spark.operators.jpeg import encode_baseline_jpeg
    from pdf_extraction_spark.operators.ocr import render_page

    img = encode_baseline_jpeg(render_page("AES-256 SCAN 7"))
    blob = build_pdf(["scanned page"], encrypt="aes-256", images=[img])
    got = extract_pdf_images(blob)
    assert got and got[0] and got[0][0]["data"] == img


def test_wrong_password_rejected():
    blob = build_pdf(["secret"], encrypt="aes-256")
    at = blob.find(b"/U <")
    tampered = bytearray(blob)
    digit = tampered[at + 4]
    tampered[at + 4] = ord("0") if digit != ord("0") else ord("1")
    with pytest.raises(ValueError, match="password required"):
        extract_pdf_pages(bytes(tampered))


def test_tampered_ue_fails_perms_check():
    """A forged /UE unwraps to the wrong file key; R6's /Perms check
    catches it instead of emitting mojibake pages."""
    blob = build_pdf(["integrity"], encrypt="aes-256")
    at = blob.find(b"/UE <")
    tampered = bytearray(blob)
    digit = tampered[at + 5]
    tampered[at + 5] = ord("0") if digit != ord("0") else ord("1")
    with pytest.raises(ValueError, match="Perms integrity"):
        extract_pdf_pages(bytes(tampered))


def test_r5_tampered_ue_is_contained():
    """R5 has no /Perms check (pre-ISO revision) — a forged /UE yields
    a wrong key whose stream decryption then fails as a ValueError
    (contained per document by the kernel's F18 guard), never silently
    wrong text."""
    blob = build_pdf(["integrity"], encrypt="aes-256-r5")
    at = blob.find(b"/UE <")
    tampered = bytearray(blob)
    digit = tampered[at + 5]
    tampered[at + 5] = ord("0") if digit != ord("0") else ord("1")
    with pytest.raises(ValueError):
        extract_pdf_pages(bytes(tampered))


def test_missing_perms_rejected():
    blob = build_pdf(["no perms"], encrypt="aes-256")
    at = blob.find(b"/Perms <")
    end = blob.find(b">", at) + 1
    with pytest.raises(ValueError, match="missing /Perms"):
        extract_pdf_pages(blob[:at] + blob[end:])


def test_short_ue_rejected():
    blob = build_pdf(["short ue"], encrypt="aes-256")
    m = re.search(rb"/UE <([0-9a-f]+)>", blob)
    assert m is not None
    with pytest.raises(ValueError, match="bad /UE"):
        extract_pdf_pages(
            blob[: m.start(1)] + m.group(1)[:16] + blob[m.end(1) :]
        )


def test_future_revision_rejected():
    blob = build_pdf(["future"], encrypt="aes-256")
    tampered = blob.replace(b"/V 5 /R 6", b"/V 6 /R 7")
    with pytest.raises(ValueError, match="unsupported encryption version"):
        extract_pdf_pages(tampered)
