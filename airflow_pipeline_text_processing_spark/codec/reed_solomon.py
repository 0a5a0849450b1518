"""Reed-Solomon over GF(2^8) -- textbook systematic codec.

The reference protects each chunk with ``reedsolo.RSCodec(nsym)`` and stores
only the parity tail (``/root/reference/plugins/utils/dna_encoding.py:232-248``,
parity slice at ``:324``); the decode path is defined but never invoked by the
pipeline (``:250-268``).  ``reedsolo`` is not available in this environment,
so this is a from-scratch implementation of the same public algorithm with
the same parameters (primitive polynomial 0x11d, generator element 2, first
consecutive root alpha^0, 255-byte codeword blocks), making parity bytes
bit-identical to the reference's.

One reference quirk is reproduced faithfully by ``rs_parity_tail``: for
payloads longer than 245 bytes the library interleaves data and parity per
255-byte block, so ``encoded[len(data):]`` is *not* pure parity -- it is the
tail of the interleaved stream.  The reference stores that tail as metadata
and never reads it back; we keep byte-parity with that, and additionally
expose a real ``rs_decode`` (syndromes -> Berlekamp-Massey -> Chien search ->
Forney) for the optional repair path.
"""

from __future__ import annotations

from typing import List

import numpy as np

_PRIM = 0x11D
_NSIZE = 255  # bytes per codeword block, parity included
_GF_EXP = [0] * 512
_GF_LOG = [0] * 256


def _init_tables() -> None:
    x = 1
    for i in range(255):
        _GF_EXP[i] = x
        _GF_LOG[x] = i
        x <<= 1
        if x & 0x100:
            x ^= _PRIM
    for i in range(255, 512):
        _GF_EXP[i] = _GF_EXP[i - 255]


_init_tables()


def _mul(a: int, b: int) -> int:
    if a == 0 or b == 0:
        return 0
    return _GF_EXP[_GF_LOG[a] + _GF_LOG[b]]


def _inv(a: int) -> int:
    if a == 0:
        raise ZeroDivisionError("GF(256) inverse of zero")
    return _GF_EXP[255 - _GF_LOG[a]]


def _pow(x: int, n: int) -> int:
    if x == 0:
        return 0 if n else 1
    return _GF_EXP[(_GF_LOG[x] * n) % 255]


# ---------------------------------------------------------------------------
# Encoding.  Polynomials here are highest-degree-first byte sequences, which
# makes systematic encoding a straight synthetic division over the message.
# ---------------------------------------------------------------------------

_GEN_CACHE: dict = {}


def _generator_poly(nsym: int) -> List[int]:
    """g(x) = prod_{i=0}^{nsym-1} (x - alpha^i), highest degree first."""
    g = _GEN_CACHE.get(nsym)
    if g is None:
        g = [1]
        for i in range(nsym):
            root = _GF_EXP[i]
            nxt = [0] * (len(g) + 1)
            for j, c in enumerate(g):
                nxt[j] ^= c
                nxt[j + 1] ^= _mul(c, root)
            g = nxt
        _GEN_CACHE[nsym] = g
    return g


_EXP_NP = np.array(_GF_EXP, dtype=np.uint8)   # len 512: log-sum lookups need no mod
_LOG_NP = np.array(_GF_LOG, dtype=np.int16)
_POW_CACHE: dict = {}  # nsym -> ndarray[maxk, nsym]: row k = x^k mod g(x)


def _power_table(nsym: int, maxk: int) -> np.ndarray:
    """Rows of x^k mod g(x) (nsym bytes, highest degree first), k < maxk."""
    tbl = _POW_CACHE.get(nsym)
    if tbl is not None and len(tbl) >= maxk:
        return tbl
    gtail = _generator_poly(nsym)[1:]
    rem = [0] * nsym
    rem[-1] = 1  # x^0 == 1
    rows = [list(rem)]
    for _k in range(1, maxk):
        top = rem[0]
        rem = rem[1:] + [0]
        if top:
            lt = _GF_LOG[top]
            rem = [
                r ^ (_GF_EXP[lt + _GF_LOG[c]] if c else 0)
                for r, c in zip(rem, gtail)
            ]
        rows.append(list(rem))
    tbl = np.array(rows, dtype=np.uint8)
    _POW_CACHE[nsym] = tbl
    return tbl


def _encode_block(msg: bytes, nsym: int) -> bytes:
    """Systematic parity: remainder of msg(x)*x^nsym / g(x).

    By linearity over GF(2^8) the remainder is the XOR over message bytes of
    m_i * (x^{L-1-i+nsym} mod g) -- one vectorized log/exp multiply plus an
    XOR reduction instead of the per-byte synthetic-division loop.
    """
    length = len(msg)
    if length == 0:
        return bytes(nsym)
    m = np.frombuffer(msg, dtype=np.uint8)
    tbl = _power_table(nsym, length + nsym)
    rows = tbl[np.arange(length - 1, -1, -1) + nsym]  # k = L-1-i+nsym
    prod = _EXP_NP[_LOG_NP[m][:, None] + _LOG_NP[rows]]
    prod[(m[:, None] == 0) | (rows == 0)] = 0
    rem = np.bitwise_xor.reduce(prod, axis=0)
    return msg + rem.tobytes()


def rs_encode(data: bytes, nsym: int = 10) -> bytes:
    """Systematic encode; payloads are chunked into 255-byte codewords."""
    if nsym <= 0:
        return bytes(data)
    step = _NSIZE - nsym
    if not data:
        return _encode_block(b"", nsym)
    out = bytearray()
    for i in range(0, len(data), step):
        out += _encode_block(data[i : i + step], nsym)
    return bytes(out)


def rs_parity_tail(data: bytes, nsym: int = 10) -> bytes:
    """The reference's stored artifact: ``rs_encode(data)[len(data):]``."""
    return rs_encode(data, nsym)[len(data):]


# ---------------------------------------------------------------------------
# Decoding.  Polynomials below are ascending-order coefficient lists
# (index == power of x), which keeps Berlekamp-Massey/Forney readable.
# ---------------------------------------------------------------------------


class RSError(ValueError):
    """Raised when a codeword is uncorrectable."""


def _syndromes(codeword: bytes, nsym: int) -> List[int]:
    """S_j = C(alpha^j) for j in [0, nsym)."""
    out = []
    for j in range(nsym):
        x = _GF_EXP[j]
        acc = 0
        for byte in codeword:
            acc = _mul(acc, x) ^ byte
        out.append(acc)
    return out


def _berlekamp_massey(synd: List[int]) -> List[int]:
    """Error locator lambda(x), ascending coefficients, lam[0] == 1."""
    lam = [1]
    prev = [1]
    m = 1
    b = 1
    for n in range(len(synd)):
        delta = synd[n]
        for i in range(1, len(lam)):
            if n - i >= 0:
                delta ^= _mul(lam[i], synd[n - i])
        if delta == 0:
            m += 1
            continue
        coef = _mul(delta, _inv(b))
        shifted = [0] * m + prev
        cand = [0] * max(len(lam), len(shifted))
        for i, c in enumerate(lam):
            cand[i] ^= c
        for i, c in enumerate(shifted):
            cand[i] ^= _mul(coef, c)
        if 2 * (len(lam) - 1) <= n:
            prev = list(lam)
            b = delta
            m = 1
        else:
            m += 1
        lam = cand
    while len(lam) > 1 and lam[-1] == 0:
        lam.pop()
    return lam


def _eval_poly_asc(poly: List[int], x: int) -> int:
    acc = 0
    for c in reversed(poly):
        acc = _mul(acc, x) ^ c
    return acc


def _correct_block(codeword: bytes, nsym: int) -> bytes:
    synd = _syndromes(codeword, nsym)
    if max(synd) == 0:
        return codeword[:-nsym]
    lam = _berlekamp_massey(synd)
    nerr = len(lam) - 1
    if nerr > nsym // 2:
        raise RSError("too many errors to correct")
    n = len(codeword)
    # Chien search: position p (from the left) has coefficient power
    # cp = n-1-p; error there iff lambda(alpha^{-cp}) == 0.
    err_pos = []
    for p in range(n):
        cp = n - 1 - p
        if _eval_poly_asc(lam, _GF_EXP[(255 - cp % 255) % 255]) == 0:
            err_pos.append(p)
    if len(err_pos) != nerr:
        raise RSError("could not locate all errors")
    # Forney: omega = S(x) * lambda(x) mod x^nsym
    omega = [0] * nsym
    for i, s in enumerate(synd):
        if s == 0:
            continue
        for j, c in enumerate(lam):
            if i + j < nsym and c:
                omega[i + j] ^= _mul(s, c)
    buf = bytearray(codeword)
    for p in err_pos:
        cp = n - 1 - p
        x = _GF_EXP[cp % 255]          # X_i
        x_inv = _inv(x)
        # lambda'(x) has only odd-power terms of lambda contributing
        deriv = 0
        for j in range(1, len(lam), 2):
            deriv ^= _mul(lam[j], _pow(x_inv, j - 1))
        if deriv == 0:
            raise RSError("Forney derivative is zero")
        magnitude = _mul(_mul(_eval_poly_asc(omega, x_inv), x), _inv(deriv))
        buf[p] ^= magnitude
    if max(_syndromes(bytes(buf), nsym)) != 0:
        raise RSError("correction failed verification")
    return bytes(buf[:-nsym])


def rs_decode(encoded: bytes, nsym: int = 10) -> bytes:
    """Decode + correct a stream produced by :func:`rs_encode`."""
    if nsym <= 0:
        return bytes(encoded)
    out = bytearray()
    for i in range(0, len(encoded), _NSIZE):
        out += _correct_block(encoded[i : i + _NSIZE], nsym)
    return bytes(out)
