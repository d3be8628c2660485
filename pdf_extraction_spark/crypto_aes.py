"""Pure-Python AES-128/192/256 + CBC/ECB for encrypted PDFs (no crypto libs).

Spec-pinned to FIPS-197: the S-box pair is generated from the GF(2^8)
inverse + affine transform (not pasted tables), key expansion follows
§5.2 (including the extra SubWord step for Nk > 6, i.e. AES-256), and
the cipher/inverse-cipher follow §5.1/§5.3; the FIPS-197 Appendix B/C
vectors for all three key sizes are asserted in tests/test_pdf_aes.py
and tests/test_pdf_aes256.py.  The padded CBC layer implements the PDF
AESV2/AESV3 crypt filter scheme (PDF 32000 §7.6.2): a 16-byte IV
prepended to the ciphertext and PKCS#5 padding.  The no-pad CBC and
single-block ECB helpers are what ISO 32000-2's V5 key machinery uses
(Algorithm 2.B's hash loop, the /UE///OE key unwrap, the /Perms check).

Scale note: this runs inside Arrow-batched mapInArrow kernels on
(small) per-document streams; pure-Python AES is the honest in-env
cost of reading V4/V5 PDFs, exactly like the from-scratch JPEG decoder.
"""

from __future__ import annotations


def _gf_mul(a: int, b: int) -> int:
    p = 0
    for _ in range(8):
        if b & 1:
            p ^= a
        hi = a & 0x80
        a = (a << 1) & 0xFF
        if hi:
            a ^= 0x1B
        b >>= 1
    return p


def _build_sboxes() -> tuple[list[int], list[int]]:
    # multiplicative inverse in GF(2^8) via 3 as generator
    exp = [0] * 256
    log = [0] * 256
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        x = _gf_mul(x, 3)
    exp[255] = exp[0]

    def inv(a: int) -> int:
        return 0 if a == 0 else exp[255 - log[a]]

    sbox = [0] * 256
    inv_sbox = [0] * 256
    for a in range(256):
        b = inv(a)
        # affine transform: b ^ rotl(b,1..4) ^ 0x63
        s = b
        for r in (1, 2, 3, 4):
            s ^= ((b << r) | (b >> (8 - r))) & 0xFF
        s = (s ^ 0x63) & 0xFF
        sbox[a] = s
        inv_sbox[s] = a
    return sbox, inv_sbox


_SBOX, _INV_SBOX = _build_sboxes()
_RCON = [0x01]
while len(_RCON) < 10:
    _RCON.append(_gf_mul(_RCON[-1], 2))

# precomputed GF(2^8) multiplication tables for the six MixColumns
# constants — the per-block hot path does table lookups, not bit loops
_M2, _M3, _M9, _M11, _M13, _M14 = (
    [_gf_mul(a, c) for a in range(256)] for c in (2, 3, 9, 11, 13, 14)
)


def _expand_key(key: bytes) -> list[list[int]]:
    """FIPS-197 §5.2 for Nk in {4, 6, 8}: Nr+1 round keys of 16 bytes
    (AES-128/192/256).  For Nk > 6 the schedule applies an extra SubWord
    (no rotate, no Rcon) at i % Nk == 4 — the AES-256 wrinkle."""
    if len(key) not in (16, 24, 32):
        raise ValueError("aes: key must be 16, 24 or 32 bytes")
    nk = len(key) // 4
    nr = nk + 6
    w = [list(key[i : i + 4]) for i in range(0, len(key), 4)]
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [_SBOX[b] for b in t]
            t[0] ^= _RCON[i // nk - 1]
        elif nk > 6 and i % nk == 4:
            t = [_SBOX[b] for b in t]
        w.append([a ^ b for a, b in zip(w[i - nk], t)])
    return [sum(w[r * 4 : r * 4 + 4], []) for r in range(nr + 1)]


def _add_round_key(s: list[int], rk: list[int]) -> None:
    for i in range(16):
        s[i] ^= rk[i]


# state layout: s[r + 4*c] (column-major, as FIPS-197's in/out mapping)
_SHIFT = [0, 5, 10, 15, 4, 9, 14, 3, 8, 13, 2, 7, 12, 1, 6, 11]
_INV_SHIFT = [0, 13, 10, 7, 4, 1, 14, 11, 8, 5, 2, 15, 12, 9, 6, 3]


def _encrypt_block(block: bytes, rks: list[list[int]]) -> bytes:
    nr = len(rks) - 1
    s = list(block)
    _add_round_key(s, rks[0])
    for rnd in range(1, nr):
        s = [_SBOX[s[_SHIFT[i]]] for i in range(16)]
        t = [0] * 16
        for c in range(4):
            a0, a1, a2, a3 = s[4 * c : 4 * c + 4]
            t[4 * c + 0] = _M2[a0] ^ _M3[a1] ^ a2 ^ a3
            t[4 * c + 1] = a0 ^ _M2[a1] ^ _M3[a2] ^ a3
            t[4 * c + 2] = a0 ^ a1 ^ _M2[a2] ^ _M3[a3]
            t[4 * c + 3] = _M3[a0] ^ a1 ^ a2 ^ _M2[a3]
        s = t
        _add_round_key(s, rks[rnd])
    s = [_SBOX[s[_SHIFT[i]]] for i in range(16)]
    _add_round_key(s, rks[nr])
    return bytes(s)


def _decrypt_block(block: bytes, rks: list[list[int]]) -> bytes:
    nr = len(rks) - 1
    s = list(block)
    _add_round_key(s, rks[nr])
    for rnd in range(nr - 1, 0, -1):
        s = [_INV_SBOX[s[_INV_SHIFT[i]]] for i in range(16)]
        _add_round_key(s, rks[rnd])
        t = [0] * 16
        for c in range(4):
            a0, a1, a2, a3 = s[4 * c : 4 * c + 4]
            t[4 * c + 0] = _M14[a0] ^ _M11[a1] ^ _M13[a2] ^ _M9[a3]
            t[4 * c + 1] = _M9[a0] ^ _M14[a1] ^ _M11[a2] ^ _M13[a3]
            t[4 * c + 2] = _M13[a0] ^ _M9[a1] ^ _M14[a2] ^ _M11[a3]
            t[4 * c + 3] = _M11[a0] ^ _M13[a1] ^ _M9[a2] ^ _M14[a3]
        s = t
    s = [_INV_SBOX[s[_INV_SHIFT[i]]] for i in range(16)]
    _add_round_key(s, rks[0])
    return bytes(s)


def aes_encrypt_block(block: bytes, key: bytes) -> bytes:
    return _encrypt_block(block, _expand_key(key))


def aes_decrypt_block(block: bytes, key: bytes) -> bytes:
    return _decrypt_block(block, _expand_key(key))


# legacy names (AES-128 call sites and the FIPS-197 Appendix B tests)
aes128_encrypt_block = aes_encrypt_block
aes128_decrypt_block = aes_decrypt_block


def aes_cbc_nopad_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Raw CBC over already-16-byte-aligned data, no IV prefix, no
    padding — the primitive ISO 32000-2's V5 machinery composes
    (Algorithm 2.B's hash loop, /UE///OE file-key wrap with a zero IV)."""
    if len(iv) != 16:
        raise ValueError("aes: IV must be 16 bytes")
    if len(data) % 16:
        raise ValueError("aes: no-pad CBC needs 16-byte-aligned data")
    rks = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = bytes(a ^ b for a, b in zip(data[i : i + 16], prev))
        prev = _encrypt_block(blk, rks)
        out += prev
    return bytes(out)


def aes_cbc_nopad_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Inverse of aes_cbc_nopad_encrypt."""
    if len(iv) != 16:
        raise ValueError("aes: IV must be 16 bytes")
    if len(data) % 16:
        raise ValueError("aes: no-pad CBC needs 16-byte-aligned data")
    rks = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = data[i : i + 16]
        out += bytes(a ^ b for a, b in zip(_decrypt_block(blk, rks), prev))
        prev = blk
    return bytes(out)


def aes128_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """PDF AESV2/AESV3 shape: returns iv + ciphertext over PKCS#5-padded
    data.  Key may be 16 (AESV2) or 32 (AESV3) bytes."""
    if len(iv) != 16:
        raise ValueError("aes: IV must be 16 bytes")
    rks = _expand_key(key)
    pad = 16 - (len(data) % 16)
    data = data + bytes([pad]) * pad
    out = bytearray(iv)
    prev = iv
    for i in range(0, len(data), 16):
        blk = bytes(a ^ b for a, b in zip(data[i : i + 16], prev))
        prev = _encrypt_block(blk, rks)
        out += prev
    return bytes(out)


def aes128_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """Inverse of aes128_cbc_encrypt: data = iv + ciphertext; strips the
    PKCS#5 padding.  Malformed input raises ValueError (contained per
    document by the extraction kernel's F18 guard)."""
    if len(data) < 32 or len(data) % 16:
        raise ValueError("aes: bad AESV2 payload length")
    rks = _expand_key(key)
    prev = data[:16]
    out = bytearray()
    for i in range(16, len(data), 16):
        blk = data[i : i + 16]
        out += bytes(a ^ b for a, b in zip(_decrypt_block(blk, rks), prev))
        prev = blk
    pad = out[-1]
    if not 1 <= pad <= 16 or out[-pad:] != bytes([pad]) * pad:
        raise ValueError("aes: bad padding")
    return bytes(out[:-pad])
