"""Standard security handler: RC4 V1/V2 R2-R3, AES-128 (V4/AESV2) and
AES-256 (V5/R5-R6 AESV3), empty user password.

Most real-world "secured" invoices are encrypted with the standard handler
and an EMPTY user password (owner password set, user password blank) — a
reader may open them without prompting. The reference relies on PyPDF2's
transparent ``.decrypt('')`` for exactly these files
(pdf_text_detector.py:171-204) — which is RC4-only; this module
reimplements the public algorithms (PDF 1.7 spec §7.6, PDF 2.0 §7.6.4
Algorithm 2.A) with the stdlib only, INCLUDING the AES variants the
reference cannot open: AESV2 (AES-128-CBC, the Acrobat 7+ default) and
AESV3 (AES-256, R5 legacy + R6). Files whose empty user password fails
verification, and non-Standard (public-key) handlers, remain
PdfEncryptedError rejects.

Everything here derives from the published PDF specification and FIPS-197;
RC4, MD5, SHA-2, and AES are textbook/stdlib-implementable primitives.
The pure-Python AES below is fine for invoice-sized payloads (its cost is
per-executor CPU inside the same map task — no plan change); a cluster
deployment that ingests a mostly-encrypted corpus would swap `_aes_*` for
a C-backed implementation behind the same function signatures, exactly
like the RC4 note.
"""

from __future__ import annotations

import hashlib
import struct

# PDF 1.7 spec §7.6.3.3 — the 32-byte password padding string
PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 (symmetric — encrypts and decrypts)."""
    s = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % klen]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = c ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def _pad(password: bytes) -> bytes:
    return (password + PAD)[:32]


def derive_file_key(
    password: bytes, o_entry: bytes, p: int, id0: bytes, r: int,
    length: int = 40, encrypt_metadata: bool = True,
) -> bytes:
    """Algorithm 2: the file encryption key from the (padded) user
    password, /O, /P (signed 32-bit little-endian) and the first file ID.
    R4 with /EncryptMetadata false appends FF FF FF FF to the hash input."""
    h = hashlib.md5()
    h.update(_pad(password))
    h.update(o_entry[:32])
    h.update(struct.pack("<i", p))
    h.update(id0)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    digest = h.digest()
    n = 5 if r == 2 else max(5, min(16, length // 8))
    if r >= 3:
        for _ in range(50):
            digest = hashlib.md5(digest[:n]).digest()
    return digest[:n]


def owner_entry(owner_password: bytes, user_password: bytes, r: int = 2) -> bytes:
    """Algorithm 3: the /O entry (RC4 of the padded user password under a
    key from the padded owner password; R3 adds 50 MD5 rounds + 19 more
    RC4 passes with the key XORed by the pass index)."""
    digest = hashlib.md5(_pad(owner_password)).digest()
    n = 5 if r == 2 else 16
    if r >= 3:
        for _ in range(50):
            digest = hashlib.md5(digest).digest()
    key = digest[:n]
    data = rc4(key, _pad(user_password))
    if r >= 3:
        for i in range(1, 20):
            data = rc4(bytes(b ^ i for b in key), data)
    return data


def recover_user_password(owner_password: bytes, o_entry: bytes,
                          r: int) -> bytes:
    """Algorithm 7 prefix (R2-R4): decrypt /O under the owner-password key
    to recover the PADDED user password — how a reader opens a file whose
    OWNER password it knows (PyPDF2's .decrypt('') tries this with the
    empty string after the user-password check fails)."""
    digest = hashlib.md5(_pad(owner_password)).digest()
    n = 5 if r == 2 else 16
    if r >= 3:
        for _ in range(50):
            digest = hashlib.md5(digest).digest()
    key = digest[:n]
    data = o_entry[:32]
    if r == 2:
        return rc4(key, data)
    for i in range(19, -1, -1):  # inverse of the 20 encryption passes
        data = rc4(bytes(b ^ i for b in key), data)
    return data


def user_entry(file_key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / 5 (R3): the /U entry for a given file key."""
    if r == 2:
        return rc4(file_key, PAD)
    data = rc4(file_key, hashlib.md5(PAD + id0).digest())
    for i in range(1, 20):
        data = rc4(bytes(b ^ i for b in file_key), data)
    return data + b"\x00" * 16  # arbitrary 16-byte pad per spec


def verify_user_password(file_key: bytes, u_entry: bytes, id0: bytes, r: int) -> bool:
    """Does the derived file key authenticate against the stored /U?
    R3 compares only the first 16 bytes (spec Algorithm 6)."""
    expect = user_entry(file_key, id0, r)
    if r == 2:
        return expect == u_entry[:32]
    return expect[:16] == u_entry[:16]


def object_key(file_key: bytes, num: int, gen: int = 0) -> bytes:
    """Algorithm 1 (V1/V2 RC4): per-object key = MD5(file key + 3-byte LE
    object number + 2-byte LE generation), truncated to n+5 (max 16)."""
    h = hashlib.md5()
    h.update(file_key)
    h.update(struct.pack("<i", num)[:3])
    h.update(struct.pack("<i", gen)[:2])
    return h.digest()[: min(len(file_key) + 5, 16)]


def object_key_aes(file_key: bytes, num: int, gen: int = 0) -> bytes:
    """Algorithm 1, AESV2 variant: as ``object_key`` but with the constant
    ``sAlT`` suffix (spec step b) appended to the hash input. AESV3 (R5/R6)
    uses the FILE key directly — no per-object key."""
    h = hashlib.md5()
    h.update(file_key)
    h.update(struct.pack("<i", num)[:3])
    h.update(struct.pack("<i", gen)[:2])
    h.update(b"sAlT")
    return h.digest()[: min(len(file_key) + 5, 16)]


# ---------------------------------------------------------------------------
# AES (FIPS-197) — pure stdlib. Tables are COMPUTED from the GF(2^8) field
# definition at import, not transcribed, so there is nothing to copy wrong.
# ---------------------------------------------------------------------------
def _gf_mul(a: int, b: int) -> int:
    acc = 0
    while b:
        if b & 1:
            acc ^= a
        a = (a << 1) ^ (0x11B if a & 0x80 else 0)
        b >>= 1
    return acc & 0xFF


_MUL = {m: [_gf_mul(a, m) for a in range(256)] for m in (2, 3, 9, 11, 13, 14)}


def _make_sboxes() -> tuple[list[int], list[int]]:
    # multiplicative inverses via exp/log over generator 3, then the affine
    # map (FIPS-197 §5.1.1)
    exp = [0] * 255
    log = [0] * 256
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        x ^= (x << 1) ^ (0x11B if x & 0x80 else 0)  # x *= 3
    sbox = [0] * 256
    for i in range(256):
        inv = exp[(255 - log[i]) % 255] if i else 0
        s = inv
        for _ in range(4):
            inv = ((inv << 1) | (inv >> 7)) & 0xFF
            s ^= inv
        sbox[i] = s ^ 0x63
    inv_sbox = [0] * 256
    for i, s in enumerate(sbox):
        inv_sbox[s] = i
    return sbox, inv_sbox


_SBOX, _INV_SBOX = _make_sboxes()


def _expand_key(key: bytes) -> tuple[list[list[int]], int]:
    """Key schedule → (per-round 16-byte key lists, number of rounds)."""
    nk = len(key) // 4
    if nk not in (4, 6, 8):
        raise ValueError(f"bad AES key length {len(key)}")
    nr = nk + 6
    w = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
    rcon = 1
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = [_SBOX[b] for b in t[1:] + t[:1]]
            t[0] ^= rcon
            rcon = ((rcon << 1) ^ 0x11B if rcon & 0x80 else rcon << 1) & 0xFF
        elif nk == 8 and i % nk == 4:
            t = [_SBOX[b] for b in t]
        w.append([a ^ b for a, b in zip(w[i - nk], t)])
    rks = [sum((w[4 * r + c] for c in range(4)), []) for r in range(nr + 1)]
    return rks, nr


def _aes_encrypt_block(rks: list[list[int]], nr: int, block: bytes) -> bytes:
    # state is flat column-major (s[4c+r]) — same byte order as the input
    s = [b ^ k for b, k in zip(block, rks[0])]
    M2, M3, SB = _MUL[2], _MUL[3], _SBOX
    for rnd in range(1, nr):
        t = [0] * 16
        for c in range(4):
            for r in range(4):  # SubBytes + ShiftRows (row r left by r)
                t[4 * c + r] = SB[s[4 * ((c + r) & 3) + r]]
        rk = rks[rnd]
        for c in range(4):  # MixColumns + AddRoundKey
            a0, a1, a2, a3 = t[4 * c : 4 * c + 4]
            s[4 * c] = M2[a0] ^ M3[a1] ^ a2 ^ a3 ^ rk[4 * c]
            s[4 * c + 1] = a0 ^ M2[a1] ^ M3[a2] ^ a3 ^ rk[4 * c + 1]
            s[4 * c + 2] = a0 ^ a1 ^ M2[a2] ^ M3[a3] ^ rk[4 * c + 2]
            s[4 * c + 3] = M3[a0] ^ a1 ^ a2 ^ M2[a3] ^ rk[4 * c + 3]
    rk = rks[nr]
    out = bytearray(16)
    for c in range(4):
        for r in range(4):
            out[4 * c + r] = SB[s[4 * ((c + r) & 3) + r]] ^ rk[4 * c + r]
    return bytes(out)


def _aes_decrypt_block(rks: list[list[int]], nr: int, block: bytes) -> bytes:
    s = [b ^ k for b, k in zip(block, rks[nr])]
    M9, M11, M13, M14 = _MUL[9], _MUL[11], _MUL[13], _MUL[14]
    ISB = _INV_SBOX
    for rnd in range(nr - 1, 0, -1):
        rk = rks[rnd]
        t = [0] * 16
        for c in range(4):
            for r in range(4):  # InvShiftRows + InvSubBytes + AddRoundKey
                t[4 * c + r] = ISB[s[4 * ((c - r) & 3) + r]] ^ rk[4 * c + r]
        for c in range(4):  # InvMixColumns
            a0, a1, a2, a3 = t[4 * c : 4 * c + 4]
            s[4 * c] = M14[a0] ^ M11[a1] ^ M13[a2] ^ M9[a3]
            s[4 * c + 1] = M9[a0] ^ M14[a1] ^ M11[a2] ^ M13[a3]
            s[4 * c + 2] = M13[a0] ^ M9[a1] ^ M14[a2] ^ M11[a3]
            s[4 * c + 3] = M11[a0] ^ M13[a1] ^ M9[a2] ^ M14[a3]
    rk = rks[0]
    out = bytearray(16)
    for c in range(4):
        for r in range(4):
            out[4 * c + r] = ISB[s[4 * ((c - r) & 3) + r]] ^ rk[4 * c + r]
    return bytes(out)


def aes_ecb_encrypt_block(key: bytes, block: bytes) -> bytes:
    """One-block ECB encrypt (the /Perms entry, Algorithm 10)."""
    rks, nr = _expand_key(key)
    return _aes_encrypt_block(rks, nr, block)


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes,
                    pad: bool = True) -> bytes:
    """AES-CBC; PKCS#7 padding when ``pad`` (the PDF stream convention)."""
    rks, nr = _expand_key(key)
    if pad:
        p = 16 - len(data) % 16
        data = data + bytes([p]) * p
    elif len(data) % 16:
        raise ValueError("unpadded CBC input must be block-aligned")
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = bytes(x ^ y for x, y in zip(data[i : i + 16], prev))
        prev = _aes_encrypt_block(rks, nr, blk)
        out += prev
    return bytes(out)


def aes_cbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """AES-CBC decrypt, NO padding removal (Algorithm 2.A key unwrap)."""
    rks, nr = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = data[i : i + 16]
        if len(blk) < 16:
            break  # ragged tail: broken writer — keep what decodes
        out += bytes(
            x ^ y for x, y in zip(_aes_decrypt_block(rks, nr, blk), prev)
        )
        prev = blk
    return bytes(out)


def pdf_aes_decrypt(key: bytes, data: bytes) -> bytes:
    """A PDF AES payload (string or stream): 16-byte IV prefix + CBC
    ciphertext + PKCS#7 padding. Lenient on malformed padding/ragged tails
    (real corpora contain them); an empty/short payload decrypts to b""."""
    if len(data) < 32:
        return b""
    pt = aes_cbc_decrypt(key, data[:16], data[16:])
    p = pt[-1] if pt else 0
    if 1 <= p <= 16 and pt.endswith(bytes([p]) * p):
        pt = pt[:-p]
    return pt


def pdf_aes_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Writer-side twin: IV + CBC(PKCS#7) ciphertext."""
    return iv + aes_cbc_encrypt(key, iv, data, pad=True)


# ---------------------------------------------------------------------------
# AES-256 revision 5/6 (PDF 2.0 §7.6.4) — SHA-2 based key derivation
# ---------------------------------------------------------------------------
def hash_r6(password: bytes, salt: bytes, udata: bytes = b"",
            r: int = 6) -> bytes:
    """Algorithm 2.B (R6): the iterated SHA-256/384/512 + AES-CBC mixing
    loop; R5 (the withdrawn Acrobat 9 scheme) is the plain SHA-256 of
    password + salt + udata."""
    k = hashlib.sha256(password + salt + udata).digest()
    if r == 5:
        return k
    i = 0
    e = b"\xff"
    while i < 64 or e[-1] > i - 32:
        k1 = (password + k + udata) * 64
        e = aes_cbc_encrypt(k[:16], k[16:32], k1, pad=False)
        # first 16 bytes of E as a big-endian integer mod 3 — 256 ≡ 1
        # (mod 3), so the byte sum has the same residue
        mod = sum(e[:16]) % 3
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[mod](e).digest()
        i += 1
    return k[:32]


def verify_r6_password(password: bytes, u_entry: bytes, o_entry: bytes,
                       ue: bytes, oe: bytes, r: int = 6):
    """Algorithm 2.A: try ``password`` as the user then the owner password;
    return the 32-byte file key, or None when neither validates. U/O are
    48 bytes (32 hash + 8 validation salt + 8 key salt); UE/OE hold the
    file key AES-256-CBC-wrapped (zero IV, no padding) under the
    intermediate key from the key salt."""
    u, o = u_entry[:48], o_entry[:48]
    if len(u) == 48 and hash_r6(password, u[32:40], b"", r) == u[:32]:
        ik = hash_r6(password, u[40:48], b"", r)
        return aes_cbc_decrypt(ik, b"\x00" * 16, ue[:32])
    if len(o) == 48 and hash_r6(password, o[32:40], u, r) == o[:32]:
        ik = hash_r6(password, o[40:48], u, r)
        return aes_cbc_decrypt(ik, b"\x00" * 16, oe[:32])
    return None


def make_r6_entries(user_password: bytes, owner_password: bytes,
                    file_key: bytes, p: int = -1,
                    encrypt_metadata: bool = True, r: int = 6,
                    seed: bytes = b"pdf_extractor_scripts_spark r6 fixture"):
    """Writer-side Algorithm 8/9/10: deterministic /U /UE /O /OE /Perms for
    a chosen file key (salts derived from ``seed`` so fixtures are
    byte-stable)."""
    vs_u = hashlib.sha256(seed + b"/uv").digest()[:8]
    ks_u = hashlib.sha256(seed + b"/uk").digest()[:8]
    vs_o = hashlib.sha256(seed + b"/ov").digest()[:8]
    ks_o = hashlib.sha256(seed + b"/ok").digest()[:8]
    u = hash_r6(user_password, vs_u, b"", r) + vs_u + ks_u
    ue = aes_cbc_encrypt(hash_r6(user_password, ks_u, b"", r),
                         b"\x00" * 16, file_key, pad=False)
    o = hash_r6(owner_password, vs_o, u, r) + vs_o + ks_o
    oe = aes_cbc_encrypt(hash_r6(owner_password, ks_o, u, r),
                         b"\x00" * 16, file_key, pad=False)
    perms_blk = (
        struct.pack("<i", p) + b"\xff\xff\xff\xff"
        + (b"T" if encrypt_metadata else b"F") + b"adb"
        + hashlib.sha256(seed + b"/pr").digest()[:4]
    )
    perms = aes_ecb_encrypt_block(file_key, perms_blk)
    return u, ue, o, oe, perms
