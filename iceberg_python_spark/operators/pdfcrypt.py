"""PDF standard security handler (ISO 32000 §7.6), from spec.

Most "encrypted" PDFs in a crawl are owner-locked only: the USER
password is empty, so the document is fully decryptable from the
/Encrypt dictionary alone — the spec's own algorithms 2/4/5 (RC4 era,
R2-R4), 2.A/2.B (AES-256, R6), and 1/1.A (per-object keys). This
module implements exactly that path:

- RC4 (the stream cipher §7.6.2 names; pinned to the classic
  published test vectors),
- AES-128/256 CBC decryption (FIPS-197 + SP 800-38A; the cipher is
  pinned to the FIPS-197 Appendix C known-answer vectors, so the
  implementation is validated against the standard, not against
  itself),
- the R2/R3/R4 MD5-based key derivation with /U verification, the
  R6 SHA-2 "hash hardening" KDF with /UE unwrap, and the per-object
  RC4/AESV2 key salting (the "sAlT" bytes of Algorithm 1).

A present, non-empty user password is a loud gate ("password-
protected"), never silently-wrong bytes. Reference parity: pyiceberg
has no PDF layer; the reference is the ISO spec itself.
"""

from __future__ import annotations

import hashlib
import struct
from functools import lru_cache
from typing import Any, Dict, List, Optional, Tuple

_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
        0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


# ---------------------------------------------------------------------------
# RC4
# ---------------------------------------------------------------------------


def rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (encrypt == decrypt)."""
    S = list(range(256))
    j = 0
    kl = len(key)
    if kl == 0:
        raise ValueError("RC4 key must be non-empty")
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


# ---------------------------------------------------------------------------
# AES (FIPS-197) — decrypt + encrypt, CBC mode (SP 800-38A)
# ---------------------------------------------------------------------------

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
for _i, _v in enumerate(_SBOX):
    _inv[_v] = _i
_INV_SBOX = bytes(_inv)
del _inv, _i, _v

_RCON = [0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36, 0x6C, 0xD8, 0xAB, 0x4D]


def _xtime(a: int) -> int:
    a <<= 1
    if a & 0x100:
        a ^= 0x11B
    return a & 0xFF


_MUL = [[0] * 256 for _ in range(15)]
for _c in (1, 2, 3, 9, 11, 13, 14):
    for _a in range(256):
        v = 0
        aa = _a
        cc = _c
        while cc:
            if cc & 1:
                v ^= aa
            aa = _xtime(aa)
            cc >>= 1
        _MUL[_c][_a] = v
del _c, _a, v, aa, cc


def _expand_key(key: bytes) -> List[List[int]]:
    nk = len(key) // 4
    nr = nk + 6
    w = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [_SBOX[b] for b in t]
            t[0] ^= _RCON[i // nk - 1]
        elif nk > 6 and i % nk == 4:
            t = [_SBOX[b] for b in t]
        w.append([w[i - nk][j] ^ t[j] for j in range(4)])
    return w


def _add_round_key(st: List[int], w: List[List[int]], rnd: int) -> None:
    for c in range(4):
        wk = w[4 * rnd + c]
        for r in range(4):
            st[4 * c + r] ^= wk[r]


def _aes_encrypt_block(block: bytes, w: List[List[int]], nr: int) -> bytes:
    st = list(block)
    _add_round_key(st, w, 0)
    for rnd in range(1, nr):
        st = [_SBOX[b] for b in st]
        # ShiftRows on column-major state: row r shifts left by r
        tmp = list(st)
        for r in range(4):
            for c in range(4):
                tmp[4 * c + r] = st[4 * ((c + r) % 4) + r]
        st = tmp
        # MixColumns
        out = [0] * 16
        for c in range(4):
            a0, a1, a2, a3 = st[4 * c : 4 * c + 4]
            out[4 * c + 0] = _MUL[2][a0] ^ _MUL[3][a1] ^ a2 ^ a3
            out[4 * c + 1] = a0 ^ _MUL[2][a1] ^ _MUL[3][a2] ^ a3
            out[4 * c + 2] = a0 ^ a1 ^ _MUL[2][a2] ^ _MUL[3][a3]
            out[4 * c + 3] = _MUL[3][a0] ^ a1 ^ a2 ^ _MUL[2][a3]
        st = out
        _add_round_key(st, w, rnd)
    st = [_SBOX[b] for b in st]
    tmp = list(st)
    for r in range(4):
        for c in range(4):
            tmp[4 * c + r] = st[4 * ((c + r) % 4) + r]
    st = tmp
    _add_round_key(st, w, nr)
    return bytes(st)


def _aes_decrypt_block(block: bytes, w: List[List[int]], nr: int) -> bytes:
    st = list(block)
    _add_round_key(st, w, nr)
    for rnd in range(nr - 1, 0, -1):
        # InvShiftRows: row r shifts right by r
        tmp = list(st)
        for r in range(4):
            for c in range(4):
                tmp[4 * c + r] = st[4 * ((c - r) % 4) + r]
        st = [_INV_SBOX[b] for b in tmp]
        _add_round_key(st, w, rnd)
        out = [0] * 16
        for c in range(4):
            a0, a1, a2, a3 = st[4 * c : 4 * c + 4]
            out[4 * c + 0] = _MUL[14][a0] ^ _MUL[11][a1] ^ _MUL[13][a2] ^ _MUL[9][a3]
            out[4 * c + 1] = _MUL[9][a0] ^ _MUL[14][a1] ^ _MUL[11][a2] ^ _MUL[13][a3]
            out[4 * c + 2] = _MUL[13][a0] ^ _MUL[9][a1] ^ _MUL[14][a2] ^ _MUL[11][a3]
            out[4 * c + 3] = _MUL[11][a0] ^ _MUL[13][a1] ^ _MUL[9][a2] ^ _MUL[14][a3]
        st = out
    tmp = list(st)
    for r in range(4):
        for c in range(4):
            tmp[4 * c + r] = st[4 * ((c - r) % 4) + r]
    st = [_INV_SBOX[b] for b in tmp]
    _add_round_key(st, w, 0)
    return bytes(st)


# --- T-table core (the canonical 32-bit formulation of FIPS-197) ---
# Each Te table packs SubBytes + the MixColumns column product for one
# byte position, so a round is 16 list lookups + XORs on ints instead
# of the byte-matrix loops above (~6x fewer Python operations per
# block; the R6 KDF below runs tens of thousands of blocks per file).
# The loop versions are kept as the readable spec reference and as the
# cross-check surface for tests.
_TE0 = [0] * 256
for _x in range(256):
    _s = _SBOX[_x]
    _TE0[_x] = (_MUL[2][_s] << 24) | (_s << 16) | (_s << 8) | _MUL[3][_s]
_TE1 = [((t >> 8) | ((t & 0xFF) << 24)) & 0xFFFFFFFF for t in _TE0]
_TE2 = [((t >> 16) | ((t & 0xFFFF) << 16)) & 0xFFFFFFFF for t in _TE0]
_TE3 = [((t >> 24) | ((t & 0xFFFFFF) << 8)) & 0xFFFFFFFF for t in _TE0]

_TD0 = [0] * 256
for _x in range(256):
    _s = _INV_SBOX[_x]
    _TD0[_x] = (_MUL[14][_s] << 24) | (_MUL[9][_s] << 16) | (_MUL[13][_s] << 8) | _MUL[11][_s]
_TD1 = [((t >> 8) | ((t & 0xFF) << 24)) & 0xFFFFFFFF for t in _TD0]
_TD2 = [((t >> 16) | ((t & 0xFFFF) << 16)) & 0xFFFFFFFF for t in _TD0]
_TD3 = [((t >> 24) | ((t & 0xFFFFFF) << 8)) & 0xFFFFFFFF for t in _TD0]
del _x, _s


@lru_cache(maxsize=64)
def _enc_schedule(key: bytes):
    """Round keys as 32-bit words (+ round count) for the T-table core."""
    w = _expand_key(key)
    nr = len(key) // 4 + 6
    rk = tuple((a << 24) | (b << 16) | (c << 8) | d for a, b, c, d in w)
    return rk, nr


@lru_cache(maxsize=64)
def _dec_schedule(key: bytes):
    """Equivalent-inverse-cipher schedule: encryption round keys in
    reverse order with InvMixColumns applied to the middle rounds."""
    rk, nr = _enc_schedule(key)

    def imc(word: int) -> int:
        b0, b1, b2, b3 = word >> 24, (word >> 16) & 0xFF, (word >> 8) & 0xFF, word & 0xFF
        return (
            ((_MUL[14][b0] ^ _MUL[11][b1] ^ _MUL[13][b2] ^ _MUL[9][b3]) << 24)
            | ((_MUL[9][b0] ^ _MUL[14][b1] ^ _MUL[11][b2] ^ _MUL[13][b3]) << 16)
            | ((_MUL[13][b0] ^ _MUL[9][b1] ^ _MUL[14][b2] ^ _MUL[11][b3]) << 8)
            | (_MUL[11][b0] ^ _MUL[13][b1] ^ _MUL[9][b2] ^ _MUL[14][b3])
        )

    ik = list(rk[4 * nr : 4 * nr + 4])
    for r in range(1, nr):
        ik.extend(imc(w) for w in rk[4 * (nr - r) : 4 * (nr - r) + 4])
    ik.extend(rk[0:4])
    return tuple(ik), nr


def _encrypt_block_fast(block: bytes, rk, nr: int) -> bytes:
    te0, te1, te2, te3, sb = _TE0, _TE1, _TE2, _TE3, _SBOX
    s0 = int.from_bytes(block[0:4], "big") ^ rk[0]
    s1 = int.from_bytes(block[4:8], "big") ^ rk[1]
    s2 = int.from_bytes(block[8:12], "big") ^ rk[2]
    s3 = int.from_bytes(block[12:16], "big") ^ rk[3]
    k = 4
    for _ in range(nr - 1):
        t0 = te0[s0 >> 24] ^ te1[(s1 >> 16) & 0xFF] ^ te2[(s2 >> 8) & 0xFF] ^ te3[s3 & 0xFF] ^ rk[k]
        t1 = te0[s1 >> 24] ^ te1[(s2 >> 16) & 0xFF] ^ te2[(s3 >> 8) & 0xFF] ^ te3[s0 & 0xFF] ^ rk[k + 1]
        t2 = te0[s2 >> 24] ^ te1[(s3 >> 16) & 0xFF] ^ te2[(s0 >> 8) & 0xFF] ^ te3[s1 & 0xFF] ^ rk[k + 2]
        t3 = te0[s3 >> 24] ^ te1[(s0 >> 16) & 0xFF] ^ te2[(s1 >> 8) & 0xFF] ^ te3[s2 & 0xFF] ^ rk[k + 3]
        s0, s1, s2, s3 = t0, t1, t2, t3
        k += 4
    o0 = ((sb[s0 >> 24] << 24) | (sb[(s1 >> 16) & 0xFF] << 16) | (sb[(s2 >> 8) & 0xFF] << 8) | sb[s3 & 0xFF]) ^ rk[k]
    o1 = ((sb[s1 >> 24] << 24) | (sb[(s2 >> 16) & 0xFF] << 16) | (sb[(s3 >> 8) & 0xFF] << 8) | sb[s0 & 0xFF]) ^ rk[k + 1]
    o2 = ((sb[s2 >> 24] << 24) | (sb[(s3 >> 16) & 0xFF] << 16) | (sb[(s0 >> 8) & 0xFF] << 8) | sb[s1 & 0xFF]) ^ rk[k + 2]
    o3 = ((sb[s3 >> 24] << 24) | (sb[(s0 >> 16) & 0xFF] << 16) | (sb[(s1 >> 8) & 0xFF] << 8) | sb[s2 & 0xFF]) ^ rk[k + 3]
    return (
        o0.to_bytes(4, "big") + o1.to_bytes(4, "big") + o2.to_bytes(4, "big") + o3.to_bytes(4, "big")
    )


def _decrypt_block_fast(block: bytes, ik, nr: int) -> bytes:
    td0, td1, td2, td3, isb = _TD0, _TD1, _TD2, _TD3, _INV_SBOX
    s0 = int.from_bytes(block[0:4], "big") ^ ik[0]
    s1 = int.from_bytes(block[4:8], "big") ^ ik[1]
    s2 = int.from_bytes(block[8:12], "big") ^ ik[2]
    s3 = int.from_bytes(block[12:16], "big") ^ ik[3]
    k = 4
    for _ in range(nr - 1):
        t0 = td0[s0 >> 24] ^ td1[(s3 >> 16) & 0xFF] ^ td2[(s2 >> 8) & 0xFF] ^ td3[s1 & 0xFF] ^ ik[k]
        t1 = td0[s1 >> 24] ^ td1[(s0 >> 16) & 0xFF] ^ td2[(s3 >> 8) & 0xFF] ^ td3[s2 & 0xFF] ^ ik[k + 1]
        t2 = td0[s2 >> 24] ^ td1[(s1 >> 16) & 0xFF] ^ td2[(s0 >> 8) & 0xFF] ^ td3[s3 & 0xFF] ^ ik[k + 2]
        t3 = td0[s3 >> 24] ^ td1[(s2 >> 16) & 0xFF] ^ td2[(s1 >> 8) & 0xFF] ^ td3[s0 & 0xFF] ^ ik[k + 3]
        s0, s1, s2, s3 = t0, t1, t2, t3
        k += 4
    o0 = ((isb[s0 >> 24] << 24) | (isb[(s3 >> 16) & 0xFF] << 16) | (isb[(s2 >> 8) & 0xFF] << 8) | isb[s1 & 0xFF]) ^ ik[k]
    o1 = ((isb[s1 >> 24] << 24) | (isb[(s0 >> 16) & 0xFF] << 16) | (isb[(s3 >> 8) & 0xFF] << 8) | isb[s2 & 0xFF]) ^ ik[k + 1]
    o2 = ((isb[s2 >> 24] << 24) | (isb[(s1 >> 16) & 0xFF] << 16) | (isb[(s0 >> 8) & 0xFF] << 8) | isb[s3 & 0xFF]) ^ ik[k + 2]
    o3 = ((isb[s3 >> 24] << 24) | (isb[(s2 >> 16) & 0xFF] << 16) | (isb[(s1 >> 8) & 0xFF] << 8) | isb[s0 & 0xFF]) ^ ik[k + 3]
    return (
        o0.to_bytes(4, "big") + o1.to_bytes(4, "big") + o2.to_bytes(4, "big") + o3.to_bytes(4, "big")
    )


def aes_encrypt_block(key: bytes, block: bytes) -> bytes:
    """One-block ECB encrypt (the FIPS-197 known-answer surface)."""
    if len(key) not in (16, 24, 32) or len(block) != 16:
        raise ValueError("AES takes a 16/24/32-byte key and one 16-byte block")
    rk, nr = _enc_schedule(key)
    return _encrypt_block_fast(block, rk, nr)


def aes_decrypt_block(key: bytes, block: bytes) -> bytes:
    if len(key) not in (16, 24, 32) or len(block) != 16:
        raise ValueError("AES takes a 16/24/32-byte key and one 16-byte block")
    ik, nr = _dec_schedule(key)
    return _decrypt_block_fast(block, ik, nr)


def aes_cbc_decrypt(key: bytes, data: bytes, unpad: bool = True) -> bytes:
    """PDF AES layout: the first 16 bytes are the IV, the rest CBC
    ciphertext with PKCS#5 padding (§7.6.3.1)."""
    if len(data) < 16 or len(data) % 16:
        raise ValueError("AES-CBC data must be IV + whole blocks")
    ik, nr = _dec_schedule(key)
    iv = data[:16]
    out = bytearray()
    prev = iv
    for off in range(16, len(data), 16):
        blk = data[off : off + 16]
        dec = _decrypt_block_fast(blk, ik, nr)
        out += int.to_bytes(
            int.from_bytes(dec, "big") ^ int.from_bytes(prev, "big"), 16, "big"
        )
        prev = blk
    if not unpad:
        return bytes(out)
    if not out:
        return b""
    pad = out[-1]
    if not 1 <= pad <= 16 or len(out) < pad:
        raise ValueError("AES-CBC padding is invalid")
    return bytes(out[:-pad])


def aes_cbc_encrypt(key: bytes, data: bytes, iv: bytes) -> bytes:
    """Deterministic CBC encrypt (caller provides the IV) with PKCS#5
    padding, emitting the PDF IV-prefixed layout."""
    if len(iv) != 16:
        raise ValueError("IV must be 16 bytes")
    pad = 16 - len(data) % 16
    data = data + bytes([pad]) * pad
    rk, nr = _enc_schedule(key)
    out = bytearray(iv)
    prev = iv
    for off in range(0, len(data), 16):
        blk = int.to_bytes(
            int.from_bytes(data[off : off + 16], "big") ^ int.from_bytes(prev, "big"),
            16,
            "big",
        )
        prev = _encrypt_block_fast(blk, rk, nr)
        out += prev
    return bytes(out)


# ---------------------------------------------------------------------------
# standard security handler key derivation
# ---------------------------------------------------------------------------


@lru_cache(maxsize=256)
def _r234_file_key(
    password: bytes, o: bytes, p: int, file_id: bytes, r: int, length_bits: int,
    encrypt_metadata: bool,
) -> bytes:
    """Algorithm 2: the RC4-era file key."""
    h = hashlib.md5()
    h.update((password + _PAD)[:32])
    h.update(o[:32])
    h.update(struct.pack("<i", p))
    h.update(file_id)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    n = length_bits // 8 if r >= 3 else 5
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


def _r34_user_check(key: bytes, file_id: bytes) -> bytes:
    """Algorithm 5 steps b-e: the 16 bytes /U must start with."""
    h = hashlib.md5(_PAD + file_id).digest()
    x = rc4(key, h)
    for i in range(1, 20):
        x = rc4(bytes(b ^ i for b in key), x)
    return x


@lru_cache(maxsize=256)
def _r6_hash(password: bytes, salt: bytes, udata: bytes) -> bytes:
    """ISO 32000-2 Algorithm 2.B: SHA-256/384/512 hardened hash."""
    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = aes_cbc_encrypt(k[:16], k1, k[16:32])[16:]  # CBC, no IV prefix
        # aes_cbc_encrypt pads; Algorithm 2.B wants raw CBC of k1 (a
        # multiple of 16 already) — strip the pad block
        e = e[: len(k1)]
        mod = sum(e[:16]) % 3
        if mod == 0:
            k = hashlib.sha256(e).digest()
        elif mod == 1:
            k = hashlib.sha384(e).digest()
        else:
            k = hashlib.sha512(e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def compute_file_key(enc: Dict[str, Any], file_id: bytes, password: bytes = b"") -> Tuple[bytes, str]:
    """Return (file_key, cipher) for the standard handler, where
    cipher is 'rc4' | 'aes-128' | 'aes-256'. Raises
    NotImplementedError for a wrong/required password or an
    unsupported handler — never silently-wrong bytes."""
    filt = str(enc.get("Filter", ""))
    if filt != "Standard":
        raise NotImplementedError(f"PDF security handler {filt!r} unsupported")
    v = int(enc.get("V", 0))
    r = int(enc.get("R", 0))
    o = _as_bytes(enc.get("O"))
    u = _as_bytes(enc.get("U"))
    p = int(enc.get("P", -1))
    if v in (1, 2) or (v == 4 and r in (3, 4)):
        length_bits = int(enc.get("Length", 40))
        cipher = "rc4"
        if v == 4:
            cfm = _v4_cfm(enc)
            if cfm == "AESV2":
                cipher = "aes-128"
                length_bits = 128
            elif cfm == "V2":
                cipher = "rc4"
            elif cfm == "Identity":
                cipher = "identity"
            else:
                raise NotImplementedError(f"PDF crypt filter {cfm} unsupported")
        em = bool(enc.get("EncryptMetadata", True))
        key = _r234_file_key(password, o, p, file_id, r, length_bits, em)
        # verify the password via /U
        if r == 2:
            ok = rc4(key, _PAD) == u[:32]
        else:
            ok = _r34_user_check(key, file_id) == u[:16]
        if not ok:
            raise NotImplementedError(
                "PDF is password-protected (user password required)"
            )
        return key, cipher
    if v == 5 and r == 6:
        if len(u) < 48:
            raise ValueError("PDF R6 /U must be 48 bytes")
        vsalt, ksalt = u[32:40], u[40:48]
        if _r6_hash(password, vsalt, b"") != u[:32]:
            raise NotImplementedError(
                "PDF is password-protected (user password required)"
            )
        ikey = _r6_hash(password, ksalt, b"")
        ue = _as_bytes(enc.get("UE"))
        if len(ue) != 32:
            raise ValueError("PDF R6 /UE must be 32 bytes")
        # unwrap: AES-256 CBC, zero IV, no padding
        file_key = _cbc_raw_decrypt(ikey, b"\x00" * 16, ue)
        return file_key, "aes-256"
    raise NotImplementedError(f"PDF encryption V={v} R={r} unsupported")


def cbc_raw_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Unpadded CBC (data already block-aligned) WITHOUT the PDF IV
    prefix — the R6 /UE//OE key-wrap shape."""
    if len(data) % 16:
        raise ValueError("raw CBC data must be block-aligned")
    w = _expand_key(key)
    nr = len(key) // 4 + 6
    out = bytearray()
    prev = iv
    for off in range(0, len(data), 16):
        blk = bytes(a ^ b for a, b in zip(data[off : off + 16], prev))
        prev = _aes_encrypt_block(blk, w, nr)
        out += prev
    return bytes(out)


def owner_entry_r34(owner_pw: bytes, user_pw: bytes, r: int, length_bits: int) -> bytes:
    """Algorithm 3: the /O entry."""
    h = hashlib.md5((owner_pw + _PAD)[:32]).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h).digest()
    n = length_bits // 8 if r >= 3 else 5
    key = h[:n]
    x = rc4(key, (user_pw + _PAD)[:32])
    if r >= 3:
        for i in range(1, 20):
            x = rc4(bytes(b ^ i for b in key), x)
    return x


def user_entry(key: bytes, r: int, file_id: bytes) -> bytes:
    """Algorithms 4/5: the /U entry for the derived file key."""
    if r == 2:
        return rc4(key, _PAD)
    return _r34_user_check(key, file_id) + b"\x00" * 16


def r6_entries(file_key: bytes, owner_pw: bytes = b"owner") -> Dict[str, bytes]:
    """Deterministic R6 /U //UE //O //OE for an EMPTY user password."""
    vs, ks = b"fixtureV", b"fixtureK"
    u = _r6_hash(b"", vs, b"") + vs + ks
    ue = cbc_raw_encrypt(_r6_hash(b"", ks, b""), b"\x00" * 16, file_key)
    ovs, oks = b"ownFixtV", b"ownFixtK"
    o = _r6_hash(owner_pw, ovs, u[:48]) + ovs + oks
    oe = cbc_raw_encrypt(_r6_hash(owner_pw, oks, u[:48]), b"\x00" * 16, file_key)
    return {"U": u, "UE": ue, "O": o, "OE": oe}


def _cbc_raw_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    w = _expand_key(key)
    nr = len(key) // 4 + 6
    out = bytearray()
    prev = iv
    for off in range(0, len(data), 16):
        blk = data[off : off + 16]
        dec = _aes_decrypt_block(blk, w, nr)
        out += bytes(a ^ b for a, b in zip(dec, prev))
        prev = blk
    return bytes(out)


def _v4_cfm(enc: Dict[str, Any]) -> str:
    cf = enc.get("CF") or {}
    stmf = str(enc.get("StmF", "Identity"))
    if stmf == "Identity":
        return "Identity"
    spec = cf.get(stmf) if isinstance(cf, dict) else None
    return str(spec.get("CFM", "")) if isinstance(spec, dict) else ""


def object_key(file_key: bytes, cipher: str, num: int, gen: int) -> bytes:
    """Algorithm 1 / 1.A: the per-object key."""
    if cipher == "aes-256":
        return file_key
    h = hashlib.md5()
    h.update(file_key)
    h.update(struct.pack("<I", num)[:3])
    h.update(struct.pack("<I", gen)[:2])
    if cipher == "aes-128":
        h.update(b"sAlT")
    n = min(len(file_key) + 5, 16)
    return h.digest()[:n]


def decrypt_object_bytes(
    data: bytes, file_key: bytes, cipher: str, num: int, gen: int
) -> bytes:
    if cipher == "identity":
        return data
    k = object_key(file_key, cipher, num, gen)
    if cipher == "rc4":
        return rc4(k, data)
    if cipher in ("aes-128", "aes-256"):
        return aes_cbc_decrypt(k, data)
    raise NotImplementedError(f"PDF cipher {cipher} unsupported")


def encrypt_object_bytes(
    data: bytes, file_key: bytes, cipher: str, num: int, gen: int, iv: bytes = b""
) -> bytes:
    """Deterministic inverse for fixture writers (fixed IV per object)."""
    k = object_key(file_key, cipher, num, gen)
    if cipher == "rc4":
        return rc4(k, data)
    if cipher in ("aes-128", "aes-256"):
        if len(iv) != 16:
            iv = hashlib.md5(struct.pack("<II", num, gen)).digest()
        return aes_cbc_encrypt(k, data, iv)
    raise NotImplementedError(f"PDF cipher {cipher} unsupported")


def _as_bytes(v: Any) -> bytes:
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, str):
        return v.encode("latin-1")
    raise ValueError("PDF /Encrypt entry is not a string")
