"""Standard security handler for encrypted PDFs (ISO 32000-1 §7.6.3,
ISO 32000-2 §7.6.4) — decode AND encode sides.

Real crawls carry a steady fraction of "encrypted" PDFs that are
readable by everyone: an owner password sets print/copy restrictions
while the user password is EMPTY, so every conforming reader (and every
production crawl extractor) decrypts them transparently. This module
implements exactly that case for the four handlers that occur in the
wild, and nothing interactive:

- R2 (V1, RC4-40) and R3 (V2, RC4 ≤128) — Algorithms 2, 4, 5;
- R4 (V4, /CF crypt filters, CFM /V2 or /AESV2) — AES-128-CBC;
- R5/R6 (V5, /AESV3, AES-256) — SHA-2 based derivation, R6 via the
  Algorithm 2.B iterated hash.

A non-empty user password cannot be guessed in a batch pipeline, so
authentication failure is a *typed* condition (`PasswordRequired`) the
kernel maps to its quarantine taxonomy, distinct from structurally
unsupported handlers (`UnsupportedEncryption`: non-/Standard filters,
unknown V/R, crypt filters other than /Identity and /StdCF).

AES-CBC is OpenSSL's, through the `cryptography` wheel (tested
against FIPS-197 appendix C in tests/test_kernels.py); every worker
needs that wheel, and the kernel imports this module at load time so a
worker without it fails its first task instead of quarantining every
encrypted PDF. RC4 stays in Python (ISO 32000-1 §7.6.2): `cryptography`'s
ARC4 takes only 40/56/64/80/128/160/192/256-bit keys, while a /V 2 file
key may be any multiple of 8 bits from 40 to 128 and each object key is
5 bytes longer, up to 16 (a /Length 48 document derives 88-bit ones).

The encode side exists for `fixtures/pdf_writer.py` only: goldens need
real encrypted fixtures (O/U/OE/UE/Perms computed, streams actually
ciphered) to prove decrypt-extract identity against the plain twin.
"""

from __future__ import annotations

import hashlib
import struct
from functools import lru_cache as _lru_cache

from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

# --------------------------------------------------------------------
# RC4 (§7.6.2). Sequential by construction; used for short fixture
# streams and the R2/R3 O/U handshake values (≤32 bytes each).


def rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % klen]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = b ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


# --------------------------------------------------------------------
# AES-CBC through OpenSSL (`cryptography`). No padding either way:
# stream callers add/strip PKCS#7 themselves, and the R6 KDF and the
# UE/OE/Perms wrapping are exact multiples of the block by construction.


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    if len(data) % 16:
        raise ValueError("cbc encrypt: unpadded length")
    enc = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
    return enc.update(data) + enc.finalize()


def aes_cbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    if len(data) % 16 or not data:
        raise ValueError("cbc decrypt: length")
    dec = Cipher(algorithms.AES(key), modes.CBC(iv)).decryptor()
    return dec.update(data) + dec.finalize()


# --------------------------------------------------------------------
# Standard security handler.

_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A])


class PasswordRequired(Exception):
    """The (empty) user password does not authenticate."""


class UnsupportedEncryption(Exception):
    """Handler/V/R/CFM combination outside the implemented set."""


def _pad_pw(pw: bytes) -> bytes:
    return (pw + _PAD)[:32]


def _alg2_file_key(pw: bytes, o: bytes, p: int, id0: bytes, r: int,
                   nbytes: int, encrypt_metadata: bool) -> bytes:
    """Algorithm 2: RC4/AESV2 file key from the user password.

    /P is a 32-bit two's-complement field that producers write signed
    (-44) or unsigned (4294967252); both spell the same four bytes."""
    h = hashlib.md5(_pad_pw(pw) + o[:32]
                    + struct.pack("<I", p & 0xFFFFFFFF) + id0)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:nbytes]).digest()
    return key[:nbytes]


def _alg4_5_u(key: bytes, r: int, id0: bytes) -> bytes:
    """Algorithm 4 (R2) / 5 (R3+): the U entry for a given file key."""
    if r == 2:
        return rc4(key, _PAD)
    u = rc4(key, hashlib.md5(_PAD + id0).digest())
    for i in range(1, 20):
        u = rc4(bytes(b ^ i for b in key), u)
    return u + b"\x00" * 16


@_lru_cache(maxsize=64)
def _hash_2b(pw: bytes, salt: bytes, udata: bytes) -> bytes:
    """ISO 32000-2 Algorithm 2.B (R6 only): SHA-2 family iterated hash
    keyed through AES-128-CBC. Bounded: ≥64 rounds, data-dependent stop
    within a further ≤192 (last byte of E is ≤255, count-32 reaches it);
    each round encrypts 64 copies of pw‖K‖udata, so a cold call costs a
    few ms with OpenSSL AES. Memoized, which pays only when salts
    repeat: every R6 fixture reuses one of two fixed salt pairs (a 100%
    hit share), while real documents each draw their own salts, so how
    often a crawl hits is unknown. Once the fixtures draw per-document
    salts, the cache has nothing left to save and goes."""
    k = hashlib.sha256(pw + salt + udata).digest()
    count = 0
    while True:
        count += 1
        k1 = (pw + k + udata) * 64
        e = aes_cbc_encrypt(k[:16], k[16:32], k1)
        k = (hashlib.sha256, hashlib.sha384,
             hashlib.sha512)[sum(e[:16]) % 3](e).digest()
        if count >= 64 and e[-1] <= count - 32:
            return k[:32]


class StandardDecryptor:
    """Authenticates the EMPTY user password against a parsed /Encrypt
    dict and decrypts stream bytes per object.

    `cfm` is the effective stream crypt method: "rc4", "aes" (AESV2,
    128-bit CBC) or "aes3" (AESV3, 256-bit CBC); /Identity yields
    cfm=None (streams pass through)."""

    def __init__(self, enc: dict, id0: bytes) -> None:
        if enc.get("Filter") != "/Standard":
            raise UnsupportedEncryption("unsupported_encryption")
        v = int(enc.get("V", 0))
        r = int(enc.get("R", 0))
        o = enc.get("O")
        u = enc.get("U")
        p = int(enc.get("P", -1))
        if not (isinstance(o, bytes) and isinstance(u, bytes)):
            raise UnsupportedEncryption("unsupported_encryption")
        meta = enc.get("EncryptMetadata", True) is not False
        self.cfm: str | None
        if v in (1, 2) and r in (2, 3):
            nbytes = int(enc.get("Length", 40)) // 8 if v == 2 else 5
            key = _alg2_file_key(b"", o, p, id0, r, nbytes, True)
            want = _alg4_5_u(key, r, id0)
            got = u[:32]
            if (want[:16] if r >= 3 else want) != \
                    (got[:16] if r >= 3 else got):
                raise PasswordRequired("encrypted_password_protected")
            self.key, self.cfm = key, "rc4"
        elif v == 4 and r == 4:
            cfm = self._stmf_cfm(enc)
            nbytes = int(enc.get("Length", 128)) // 8
            key = _alg2_file_key(b"", o, p, id0, r, nbytes, meta)
            if _alg4_5_u(key, r, id0)[:16] != u[:16]:
                raise PasswordRequired("encrypted_password_protected")
            self.key, self.cfm = key, cfm
        elif v == 5 and r in (5, 6):
            cfm = self._stmf_cfm(enc)
            ue = enc.get("UE")
            if not isinstance(ue, bytes) or len(u) < 48 or len(ue) < 32:
                raise UnsupportedEncryption("unsupported_encryption")
            vsalt, ksalt = u[32:40], u[40:48]
            if r == 6:
                if _hash_2b(b"", vsalt, b"") != u[:32]:
                    raise PasswordRequired("encrypted_password_protected")
                ikey = _hash_2b(b"", ksalt, b"")
            else:
                if hashlib.sha256(vsalt).digest() != u[:32]:
                    raise PasswordRequired("encrypted_password_protected")
                ikey = hashlib.sha256(ksalt).digest()
            self.key = aes_cbc_decrypt(ikey, b"\x00" * 16, ue[:32])
            self.cfm = cfm if cfm != "aes" else "aes3"
        else:
            raise UnsupportedEncryption("unsupported_encryption")

    @staticmethod
    def _stmf_cfm(enc: dict) -> str | None:
        """Resolve /StmF through /CF to a crypt method (V4/V5 only)."""
        stmf = enc.get("StmF", "/Identity")
        if stmf == "/Identity":
            return None
        cf = enc.get("CF")
        cfd = cf.get(str(stmf)[1:]) if isinstance(cf, dict) else None
        cfm = cfd.get("CFM") if isinstance(cfd, dict) else None
        if cfm == "/V2":
            return "rc4"
        if cfm in ("/AESV2", "/AESV3"):
            return "aes"
        raise UnsupportedEncryption("unsupported_encryption")

    def _object_key(self, num: int, gen: int, aes: bool) -> bytes:
        if self.cfm == "aes3":
            return self.key  # V5: the file key is used directly
        h = hashlib.md5(self.key + struct.pack("<i", num)[:3]
                        + struct.pack("<i", gen)[:2])
        if aes:
            h.update(b"sAlT")
        return h.digest()[:min(len(self.key) + 5, 16)]

    def decrypt_stream(self, num: int, gen: int, data: bytes) -> bytes:
        if self.cfm is None:
            return data
        if self.cfm == "rc4":
            return rc4(self._object_key(num, gen, False), data)
        if not data:
            # a /Length 0 stream is empty content, not a cut ciphertext
            return b""
        key = self._object_key(num, gen, True)
        if len(data) < 32 or len(data) % 16:
            raise ValueError("aes stream length")
        plain = aes_cbc_decrypt(key, data[:16], data[16:])
        padn = plain[-1]
        if not 1 <= padn <= 16:
            raise ValueError("aes stream padding")
        return plain[:-padn]


# --------------------------------------------------------------------
# Encode side (fixture writer only).


class FixtureEncryptor:
    """Produces a complete /Encrypt dict + trailer /ID and ciphers
    stream bytes, for the four wild-handler shapes. Deterministic: all
    salts/keys derive from fixed bytes so goldens are stable."""

    _ID0 = bytes(range(16))
    _OWNER = b"fixture-owner-password"

    def __init__(self, mode: str, user_pw: bytes = b"",
                 encrypt_metadata: bool = True) -> None:
        """user_pw other than b'' produces a genuinely password-
        protected document (V2/R3 modes) for quarantine fixtures;
        encrypt_metadata=False exercises Algorithm 2's extra
        0xFFFFFFFF key-derivation input (R4 only)."""
        self.mode = mode
        self.encrypt_metadata = encrypt_metadata
        p = -44  # print allowed, modify/copy denied — a typical wild P
        if mode == "rc4-40":
            okey = hashlib.md5(_pad_pw(self._OWNER)).digest()[:5]
            self.o = rc4(okey, _pad_pw(user_pw))
            self.key = _alg2_file_key(user_pw, self.o, p, self._ID0, 2, 5,
                                      True)
            self.u = _alg4_5_u(self.key, 2, self._ID0)
            self.enc = (b"<< /Filter /Standard /V 1 /R 2 /Length 40 /P "
                        + str(p).encode() + b" /O " + _hexs(self.o)
                        + b" /U " + _hexs(self.u) + b" >>")
            self.cfm = "rc4"
        elif mode in ("rc4-128", "aesv2"):
            okey = hashlib.md5(_pad_pw(self._OWNER)).digest()
            for _ in range(50):
                okey = hashlib.md5(okey).digest()
            o = rc4(okey[:16], _pad_pw(user_pw))
            for i in range(1, 20):
                o = rc4(bytes(b ^ i for b in okey[:16]), o)
            self.o = o
            r = 3 if mode == "rc4-128" else 4
            self.key = _alg2_file_key(user_pw, o, p, self._ID0, r, 16,
                                      encrypt_metadata)
            self.u = _alg4_5_u(self.key, r, self._ID0)
            if mode == "rc4-128":
                self.enc = (b"<< /Filter /Standard /V 2 /R 3 /Length 128 /P "
                            + str(p).encode() + b" /O " + _hexs(o)
                            + b" /U " + _hexs(self.u) + b" >>")
                self.cfm = "rc4"
            else:
                meta = (b" /EncryptMetadata false"
                        if not encrypt_metadata else b"")
                self.enc = (b"<< /Filter /Standard /V 4 /R 4 /Length 128 /P "
                            + str(p).encode() + meta
                            + b" /CF << /StdCF << /CFM /AESV2 /AuthEvent "
                            b"/DocOpen /Length 16 >> >> /StmF /StdCF "
                            b"/StrF /StdCF /O " + _hexs(o)
                            + b" /U " + _hexs(self.u) + b" >>")
                self.cfm = "aes"
        elif mode in ("aesv3", "aesv3r5"):
            r = 6 if mode == "aesv3" else 5
            self.key = hashlib.sha256(b"fixture-aesv3-file-key").digest()
            vs, ks = b"uVALsalt", b"uKEYsalt"
            if r == 6:
                u48 = _hash_2b(b"", vs, b"") + vs + ks
                ue = aes_cbc_encrypt(_hash_2b(b"", ks, b""), b"\x00" * 16,
                                     self.key)
                ovs, oks = b"oVALsalt", b"oKEYsalt"
                o48 = _hash_2b(self._OWNER, ovs, u48) + ovs + oks
                oe = aes_cbc_encrypt(_hash_2b(self._OWNER, oks, u48),
                                     b"\x00" * 16, self.key)
            else:
                # deprecated R5 (Adobe Extension Level 3): plain SHA-256
                u48 = hashlib.sha256(b"" + vs).digest() + vs + ks
                ue = aes_cbc_encrypt(hashlib.sha256(b"" + ks).digest(),
                                     b"\x00" * 16, self.key)
                ovs, oks = b"oVALsalt", b"oKEYsalt"
                o48 = hashlib.sha256(self._OWNER + ovs).digest() + ovs + oks
                oe = aes_cbc_encrypt(
                    hashlib.sha256(self._OWNER + oks).digest(),
                    b"\x00" * 16, self.key)
            # one CBC block under a zero IV is the ECB block /Perms wants
            perms = aes_cbc_encrypt(
                self.key, bytes(16),
                struct.pack("<i", p) + b"\xff\xff\xff\xffTadbfixt")
            self.o, self.u = o48, u48
            self.enc = (b"<< /Filter /Standard /V 5 /R " + str(r).encode()
                        + b" /Length 256 /P " + str(p).encode()
                        + b" /CF << /StdCF << /CFM /AESV3 /AuthEvent "
                        b"/DocOpen /Length 32 >> >> /StmF /StdCF "
                        b"/StrF /StdCF /O " + _hexs(o48)
                        + b" /U " + _hexs(u48) + b" /OE " + _hexs(oe)
                        + b" /UE " + _hexs(ue)
                        + b" /Perms " + _hexs(perms) + b" >>")
            self.cfm = "aes3"
        else:
            raise ValueError(f"unknown encrypt mode {mode!r}")

    def id_entry(self) -> bytes:
        h = self._ID0.hex().encode()
        return b"[<" + h + b"> <" + h + b">]"

    def _object_key(self, num: int, gen: int) -> bytes:
        if self.cfm == "aes3":
            return self.key
        h = hashlib.md5(self.key + struct.pack("<i", num)[:3]
                        + struct.pack("<i", gen)[:2])
        if self.cfm == "aes":
            h.update(b"sAlT")
        return h.digest()[:min(len(self.key) + 5, 16)]

    def encrypt_stream(self, num: int, gen: int, data: bytes) -> bytes:
        key = self._object_key(num, gen)
        if self.cfm == "rc4":
            return rc4(key, data)
        iv = hashlib.md5(b"fixture-iv" + struct.pack("<ii", num, gen)) \
            .digest()
        padn = 16 - len(data) % 16
        return iv + aes_cbc_encrypt(key, iv, data + bytes([padn]) * padn)


def _hexs(b: bytes) -> bytes:
    return b"<" + b.hex().encode() + b">"
